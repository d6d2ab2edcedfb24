package graft.text

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Tokenizer-construction passes of a training-data pipeline: BPE
  * merge-candidate counting (the inner loop of byte-pair-encoding
  * vocabulary induction, Sennrich et al. 2016) and deterministic text
  * normalization (the cleanup step that runs before any tokenization).
  *
  * Scale shape: the corpus-proportional work is ONE word-keyed shuffle
  * (the word-frequency aggregate — the same shuffle any tokenizer
  * trainer pays). Everything after operates on the VOCABULARY table
  * (distinct words), which is sublinear in corpus size, so the
  * character-pair explode never touches corpus scale. This is exactly
  * why real BPE trainers count word frequencies first.
  */
object Vocab {
  import org.apache.spark.sql.{Column, DataFrame}

  /** Adjacent-character-pair frequencies over (text), weighted by word
    * frequency — one word-keyed shuffle, then vocabulary-bounded work.
    */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame = {
    val words = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val vocab = words.groupBy("w").agg(count(lit(1)).as("c"))
    vocab
      .filter(length(col("w")) >= 2)
      .select(col("c"), explode(
        transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(sum("c").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Control-char strip + whitespace collapse + trim, as a Column. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "\\p{Cc}", " "), " +", " "))

  val defs: Map[String, QueryDef] = Map(

    // D51 — BPE merge-candidate counts: frequency of each adjacent
    // character pair, weighted by word frequency. The top pair is what
    // a BPE trainer would merge next; the top-50 table is the
    // vocabulary-induction work list. Guard length>=2 explicitly:
    // Spark's sequence(1, 0) produces a DESCENDING [1,0], not empty.
    "bpe_pair_counts" -> QueryDef(
      (s, d) => bpePairCounts(Tables.documents(s, d), 50),
      """WITH words AS (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           FROM documents),
         wc AS (SELECT w, count(*) AS c FROM words WHERE w <> '' GROUP BY w),
         pairs AS (
           SELECT substring(w, CAST(i AS INT), 2) AS pair, c
           FROM wc, unnest(range(1, length(w))) AS t(i)
           WHERE length(w) >= 2)
         SELECT pair, CAST(sum(c) AS BIGINT) AS n
         FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 50"""),

    // D52 — deterministic text normalization: strip control characters,
    // collapse whitespace runs, trim. The oracle PLANTS noise first
    // (tabs, CRLF, doubled spaces — built identically in both engines)
    // so the pass is exercised on every row, then md5 hash-proves the
    // normalized output byte-identical. Pure narrow map — zero shuffles,
    // scan-local at any corpus size.
    "text_normalize" -> QueryDef(
      (s, d) => {
        val noisy = concat(lit("\t "),
          regexp_replace(col("text"), " ", "  "), lit(" \r\n"))
        val norm = normalized(noisy)
        Tables.documents(s, d)
          .select(col("doc_id"), md5(norm).as("norm_md5"),
            length(norm).as("n_chars_norm"))
          .orderBy("doc_id")
      },
      """WITH noisy AS (
           SELECT doc_id,
                  chr(9) || ' ' || replace(text, ' ', '  ') || ' ' ||
                  chr(13) || chr(10) AS x
           FROM documents)
         SELECT doc_id,
                md5(trim(regexp_replace(
                  regexp_replace(x, '\p{Cc}', ' ', 'g'), ' +', ' ', 'g')))
                  AS norm_md5,
                CAST(length(trim(regexp_replace(
                  regexp_replace(x, '\p{Cc}', ' ', 'g'), ' +', ' ', 'g')))
                  AS INT) AS n_chars_norm
         FROM noisy ORDER BY doc_id"""),

    // D65 — vocabulary coverage curve: what fraction of corpus token
    // OCCURRENCES the top-k most frequent types cover, at k ∈ {5, 10,
    // 25} (the test corpus has 31 types; a web corpus would probe
    // {1e3, 1e4, 1e5}) — the metric that sizes a tokenizer vocabulary.
    // One term-keyed count shuffle; rank AND running sum then come from
    // ONE distributed ranged pass (Packing.withGlobalPrefixSums over
    // (-c, term): range-repartition + per-partition window + offset
    // broadcast) — no single-partition global Window, because an open
    // web-scale vocabulary is 10⁸⁺ types and would one-reducer there.
    // The (count desc, term) tiebreak keeps ranks total-ordered so the
    // engines cannot disagree; output is three rows.
    "vocab_coverage" -> QueryDef(
      (s, d) => {
        val counts = Tables.documents(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("c"))
        val ranked = graft.operators.Packing.withGlobalPrefixSums(
          counts.withColumn("_negc", -col("c")),
          Seq("_negc", "term"), Seq("c"))
          .withColumn("cum", col("prefix_c") + col("c"))
        // the total is the LAST cumulative value — deriving it as
        // max(cum) avoids a second full token scan of the corpus
        val total = ranked.agg(max("cum").as("total"))
        ranked.filter(col("rn").isin(5, 10, 25))
          .crossJoin(broadcast(total))
          .select(col("rn").cast("long").as("k"),
            col("cum").as("covered_tokens"),
            col("total").as("total_tokens"),
            round(col("cum").cast("double") / col("total"), 6).as("coverage"))
          .orderBy("k")
      },
      """WITH counts AS (
           SELECT term, count(*) AS c
           FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                 FROM documents)
           GROUP BY term),
         ranked AS (
           SELECT c,
                  row_number() OVER (ORDER BY c DESC, term) AS rank,
                  sum(c) OVER (ORDER BY c DESC, term
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cum
           FROM counts),
         total AS (SELECT sum(c) AS total FROM counts)
         SELECT CAST(rank AS BIGINT) AS k,
                CAST(cum AS BIGINT) AS covered_tokens,
                CAST(total AS BIGINT) AS total_tokens,
                round(CAST(cum AS DOUBLE) / total, 6) AS coverage
         FROM ranked, total WHERE rank IN (5, 10, 25)
         ORDER BY k"""),

    // D66 — per-source character-class profile: alpha/digit/whitespace/
    // punctuation fractions per provider — the cheapest data-quality
    // fingerprint (a source whose punct share doubles between snapshots
    // broke upstream). Scan-local regexp counts, one source-keyed
    // aggregate of exact ints; divisions happen once per SOURCE on
    // exact sums, so the 6 dp round cannot diverge.
    "char_class_profile" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("source"),
            length(col("text")).as("n"),
            (length(col("text"))
              - length(regexp_replace(col("text"), "[A-Za-z]", ""))).as("al"),
            (length(col("text"))
              - length(regexp_replace(col("text"), "[0-9]", ""))).as("di"),
            (length(col("text"))
              - length(regexp_replace(col("text"), "\\s", ""))).as("ws"))
          .groupBy("source")
          .agg(sum("n").as("n_chars"),
            round(sum("al").cast("double") / sum("n"), 6).as("alpha_frac"),
            round(sum("di").cast("double") / sum("n"), 6).as("digit_frac"),
            round(sum("ws").cast("double") / sum("n"), 6).as("space_frac"),
            round((sum("n") - sum("al") - sum("di") - sum("ws"))
              .cast("double") / sum("n"), 6).as("other_frac"))
          .orderBy("source"),
      """WITH per_doc AS (
           SELECT source, length(text) AS n,
                  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS al,
                  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS di,
                  length(text) - length(regexp_replace(text, '\s', '', 'g')) AS ws
           FROM documents)
         SELECT source,
                CAST(sum(n) AS BIGINT) AS n_chars,
                round(CAST(sum(al) AS DOUBLE) / sum(n), 6) AS alpha_frac,
                round(CAST(sum(di) AS DOUBLE) / sum(n), 6) AS digit_frac,
                round(CAST(sum(ws) AS DOUBLE) / sum(n), 6) AS space_frac,
                round(CAST(sum(n) - sum(al) - sum(di) - sum(ws) AS DOUBLE)
                      / sum(n), 6) AS other_frac
         FROM per_doc GROUP BY source ORDER BY source""")
  )
}
