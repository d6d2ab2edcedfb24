package graft.text

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.dedup.{Clusters, Dedup}

/** End-to-end curation pipeline (the flagship LLM-data composition):
  *
  *   1. score every document (token count, stopword ratio, symbol ratio
  *      → quality),
  *   2. resolve near-duplicate clusters (n-gram Jaccard ≥ 0.5 →
  *      connected components) and keep only each cluster's
  *      representative (min doc_id),
  *   3. keep docs with quality ≥ 0.5 and ≥ 20 tokens.
  *
  * Emits one row per KEPT doc with its scores — the "training set
  * manifest". Every stage reuses an independently oracle-verified
  * operator; the oracle here recomposes them in SQL, so the gate checks
  * the COMPOSITION, not just the parts.
  */
object Curate {

  /** D87 core — near-dup pairs bucketed by unordered endpoint-source
    * pair. `pairs` must carry (doc_a, doc_b, jaccard) with jaccard
    * already rounded to 4 dp (the shared-pair-asset contract).
    * Factored out so specs can plant a cross-feed duplicate and check
    * which cell it lands in.
    */
  def sourceMatrix(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    pairMatrix(docs, pairs, "source")

  /** Generalized D87/D100 core — near-dup pairs bucketed by the
    * unordered pair of any doc attribute (source, lang, …). Output
    * columns are `<attr>_a`, `<attr>_b`, n_pairs, mean_jaccard.
    */
  def pairMatrix(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame, attr: String)
      : org.apache.spark.sql.DataFrame = {
    val src = docs.select(col("doc_id"), col(attr))
    pairs
      .join(src.select(col("doc_id").as("doc_a"),
        col(attr).as("_sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"),
        col(attr).as("_sb")), "doc_b")
      .groupBy(least(col("_sa"), col("_sb")).as(s"${attr}_a"),
        greatest(col("_sa"), col("_sb")).as(s"${attr}_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * 10000, 0).cast("long")).as("_sj"))
      .select(col(s"${attr}_a"), col(s"${attr}_b"), col("n_pairs"),
        round(col("_sj") / (lit(10000.0) * col("n_pairs")), 4)
          .as("mean_jaccard"))
      .orderBy(s"${attr}_a", s"${attr}_b")
  }

  /** SQL twin of [[pairMatrix]] over the shared pair graph. */
  private def pairMatrixSql(attr: String): String =
    """WITH """ + Dedup.MurmurSql.pairGraphChainSql + s"""
         SELECT least(da.$attr, db.$attr) AS ${attr}_a,
                greatest(da.$attr, db.$attr) AS ${attr}_b,
                count(*) AS n_pairs,
                round(sum(CAST(round(jaccard * 10000, 0) AS BIGINT))
                      / (10000.0 * count(*)), 4) AS mean_jaccard
         FROM pairs p
         JOIN documents da ON p.doc_a = da.doc_id
         JOIN documents db ON p.doc_b = db.doc_id
         GROUP BY 1, 2
         ORDER BY ${attr}_a, ${attr}_b"""

  /** The curated keep-set (doc_id, n_tokens, quality): quality ∧
    * cluster-representative ∧ length. Shared by the manifest entry and
    * the training-layout composition below.
    */
  def keptSet(docs: org.apache.spark.sql.DataFrame,
      precomputedLabels: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    val scored = docs.select(col("doc_id"), size(t).as("n_tokens"),
      TextAnalysis.qualityCol.as("quality"))
    // dup-cluster members that are NOT their cluster's representative;
    // catalog entries pass the shared materialized label asset, specs
    // with planted corpora let this recompute from scratch
    val clusters = precomputedLabels.getOrElse(
      Clusters.connectedComponents(
        Dedup.ngramJaccardPairs(docs, 0.5)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))))
    val dropped = clusters.filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as("dup_id"))
    // NO broadcast hint: the dropped-id set is corpus-proportional
    // (every non-representative duplicate), so at 100 TB it cannot
    // be assumed driver/executor-memory sized. A shuffle left-anti
    // on doc_id scales; AQE still downgrades it to broadcast when
    // the set is actually small.
    scored
      .join(dropped, col("doc_id") === col("dup_id"), "left_anti")
      .filter(col("quality") >= 0.5 && col("n_tokens") >= 20)
  }

  /** D93 core — per-source stage-by-stage attrition through the
    * curation pipeline. Stages mirror [[keptSet]] exactly: quality
    * gate, then the length gate on top, dedup survival independently,
    * and the intersection = what curate_keep would emit. One corpus
    * scan scores everything; the dup flag arrives via a doc_id-keyed
    * left join against the label asset's non-representatives (corpus-
    * proportional in the worst case — no broadcast hint, AQE may
    * downgrade); the collapse is source-bounded.
    */
  def curationFunnel(docs: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    val scored = docs.select(col("doc_id"), col("source"),
      size(t).as("n_tokens"), TextAnalysis.qualityCol.as("quality"))
    val dropped = labels.filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as("dup_id"))
    val q = col("quality") >= 0.5
    val ql = q && col("n_tokens") >= 20
    scored
      .join(dropped, col("doc_id") === col("dup_id"), "left")
      .withColumn("is_dup", col("dup_id").isNotNull)
      .groupBy("source")
      .agg(count(lit(1)).as("n_raw"),
        sum(when(q, lit(1L)).otherwise(lit(0L))).as("n_quality"),
        sum(when(ql, lit(1L)).otherwise(lit(0L))).as("n_quality_len"),
        sum(when(!col("is_dup"), lit(1L)).otherwise(lit(0L)))
          .as("n_unique"),
        sum(when(ql && !col("is_dup"), lit(1L)).otherwise(lit(0L)))
          .as("n_kept"))
      .withColumn("keep_rate",
        round(col("n_kept").cast("double") / col("n_raw"), 4))
      .orderBy("source")
  }

  /** The oracle prefix of [[keptSet]]'s two entries: `scored` (doc_id,
    * n_tokens, quality) and `dropped`, the non-representative near-dup
    * docs.
    */
  private val keptInputsSql: String =
    """WITH RECURSIVE
         toks AS (
           SELECT doc_id, """ + TextAnalysis.qualityInputsSql + """,
         scored AS (
           SELECT doc_id, len(t) AS n_tokens,
                  """ + TextAnalysis.qualitySql + """ AS quality
           FROM toks),
         """ + Dedup.MurmurSql.nonRepsSql("dropped")

  val defs: Map[String, QueryDef] = Map(
    "curate_keep" -> QueryDef(
      (s, d) => keptSet(Tables.documents(s, d),
        Some(Clusters.sharedLabels(s, d))).orderBy("doc_id"),
      keptInputsSql + """
         SELECT s.doc_id, CAST(s.n_tokens AS INT) AS n_tokens, s.quality
         FROM scored s
         WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
           AND s.quality >= 0.5 AND s.n_tokens >= 20
         ORDER BY s.doc_id"""),

    // Source-level duplication report: per source, how many docs are
    // non-representative near-dup cluster members — the per-provider
    // contamination scorecard that decides which feeds get renegotiated
    // or down-weighted. Reads the shared label asset; one broadcast-
    // joined count per source (sources are dimension-bounded).
    "dup_rate_by_source" -> QueryDef(
      (s, d) => {
        val dups = Clusters.sharedLabels(s, d)
          .filter(col("doc_id") =!= col("cluster_rep"))
          .select(col("doc_id"), lit(1).as("is_dup"))
        Tables.documents(s, d).select("doc_id", "source")
          .join(dups, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum("is_dup"), lit(0L)).as("n_dups"))
          .withColumn("dup_rate",
            round(col("n_dups").cast("double") / col("n_docs"), 4))
          .orderBy("source")
      },
      """WITH RECURSIVE
         """ + Dedup.MurmurSql.nonRepsSql("dups") + """
         SELECT d.source, count(*) AS n_docs,
                CAST(count(dp.doc_id) AS BIGINT) AS n_dups,
                round(CAST(count(dp.doc_id) AS DOUBLE) / count(*), 4)
                  AS dup_rate
         FROM documents d LEFT JOIN dups dp USING (doc_id)
         GROUP BY d.source ORDER BY d.source"""),

    // D87 — cross-source duplication matrix: near-dup PAIRS bucketed
    // by the unordered (source, source) pair of their endpoints — the
    // feed-overlap map that tells a corpus owner WHICH providers are
    // reselling each other's crawl (off-diagonal mass) vs merely
    // self-duplicating (diagonal), the decision input for dropping a
    // whole feed rather than paying per-doc dedup against it. Reads
    // the shared pair asset (dup-bounded, built once per corpus
    // snapshot); the two endpoint→source lookups are doc_id-keyed
    // shuffle joins against the corpus (fact-fact: the pair side is
    // unbounded in principle, so broadcast is wrong), then the final
    // collapse is source²-bounded — tiny. Mean jaccard is computed
    // from EXACT integer sums: each pair's 4 dp score scales to a
    // lossless ×10000 long, the per-cell sum is order-independent
    // integer arithmetic, and one double division at the end — an
    // avg() over the raw doubles rounds differently between engines
    // whenever a cell mean lands on a 4 dp boundary (observed at
    // sf0.1: 0.93905 summed in two orders → 0.939 vs 0.9391).
    "dup_source_matrix" -> QueryDef(
      (s, d) => sourceMatrix(Tables.documents(s, d),
        Dedup.sharedPairs(s, d)),
      pairMatrixSql("source")),

    // D100 — cross-LANGUAGE duplication matrix: the lang-attributed
    // twin of D87. Lexical 3-gram near-dups across two declared
    // languages are structurally suspect — real translations share no
    // shingles, so off-diagonal mass here means either mislabeled
    // lang metadata (cross-check D85's confusion matrix) or shared
    // untranslated boilerplate (navigation chrome, license blocks)
    // that lang-stratified dedup would MISS by construction: exactly
    // the pairs you must not shard away when partitioning dedup by
    // language at 100 TB. Same plan as D87 via the shared pairMatrix
    // core; exact-integer mean discipline included.
    "dup_lang_matrix" -> QueryDef(
      (s, d) => pairMatrix(Tables.documents(s, d),
        Dedup.sharedPairs(s, d), "lang"),
      pairMatrixSql("lang")),

    // D95 — dedup savings in BYTES per source: the chars sitting in
    // non-representative near-dup members — what dedup actually
    // deletes from storage and downstream compute. D63 counts dup
    // DOCS; a feed of many tiny dups and one of few huge ones have
    // the same dup_rate but very different bills, and this is the
    // number the bill follows. Same plan as the funnel's dup leg:
    // label asset → non-reps, doc_id-keyed left join (no broadcast
    // hint), source-bounded collapse; all sums exact longs.
    "dedup_savings" -> QueryDef(
      (s, d) => {
        val dropped = Clusters.sharedLabels(s, d)
          .filter(col("doc_id") =!= col("cluster_rep"))
          .select(col("doc_id").as("dup_id"))
        Tables.documents(s, d).select("doc_id", "source", "n_chars")
          .join(dropped, col("doc_id") === col("dup_id"), "left")
          .groupBy("source")
          .agg(sum("n_chars").as("total_chars"),
            coalesce(sum(when(col("dup_id").isNotNull, col("n_chars"))),
              lit(0L)).as("dropped_chars"))
          .withColumn("savings_frac",
            when(col("total_chars") > 0,
              round(col("dropped_chars").cast("double")
                / col("total_chars"), 4)))
          .orderBy("source")
      },
      """WITH RECURSIVE
         """ + Dedup.MurmurSql.nonRepsSql("dropped") + """
         SELECT d.source,
                CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
                CAST(COALESCE(sum(CASE WHEN dp.doc_id IS NOT NULL
                                       THEN d.n_chars END), 0) AS BIGINT)
                  AS dropped_chars,
                CASE WHEN sum(d.n_chars) > 0
                     THEN round(CAST(COALESCE(sum(CASE WHEN dp.doc_id
                                                       IS NOT NULL
                                                  THEN d.n_chars END), 0)
                                     AS DOUBLE) / sum(d.n_chars), 4) END
                  AS savings_frac
         FROM documents d LEFT JOIN dropped dp USING (doc_id)
         GROUP BY d.source ORDER BY d.source"""),

    // D93 — the curation funnel as a per-source observability report:
    // raw → quality-gate survivors → +length gate → dedup survivors
    // (independent) → kept intersection, with the final keep rate.
    // This is the number a corpus owner actually watches per feed and
    // per snapshot — a feed whose keep_rate collapses between
    // snapshots changed its content pipeline, and WHICH stage absorbed
    // the loss says whether it's spam (quality), fragments (length),
    // or republication (dedup). The oracle recomposes all three gates
    // plus the recursive-CTE closure independently.
    "curation_funnel" -> QueryDef(
      (s, d) => curationFunnel(Tables.documents(s, d),
        Clusters.sharedLabels(s, d)),
      """WITH RECURSIVE
         toks AS (
           SELECT doc_id, source,
                  """ + TextAnalysis.qualityInputsSql + """,
         scored AS (
           SELECT doc_id, source, len(t) AS n_tokens,
                  """ + TextAnalysis.qualitySql + """ AS quality
           FROM toks),
         """ + Dedup.MurmurSql.nonRepsSql("dropped") + """
         SELECT s.source, count(*) AS n_raw,
                CAST(sum(CASE WHEN s.quality >= 0.5 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_quality,
                CAST(sum(CASE WHEN s.quality >= 0.5 AND s.n_tokens >= 20
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_len,
                CAST(sum(CASE WHEN dp.doc_id IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_unique,
                CAST(sum(CASE WHEN s.quality >= 0.5 AND s.n_tokens >= 20
                                   AND dp.doc_id IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                round(CAST(sum(CASE WHEN s.quality >= 0.5 AND s.n_tokens >= 20
                                         AND dp.doc_id IS NULL
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 4) AS keep_rate
         FROM scored s LEFT JOIN dropped dp USING (doc_id)
         GROUP BY s.source ORDER BY s.source"""),

    // The WHOLE training-data pipeline as one gate-checked query:
    // curation keep-set → deterministic global shuffle → 2048-token
    // sequence packing. One row per kept doc with its position in the
    // training stream (shuffle_rank) and its training sequence (bin).
    // Every stage is an independently oracle-verified operator; this
    // entry hash-checks their COMPOSITION end to end — a user could
    // run exactly this to produce a 100 TB training manifest
    // (single-reducer-free throughout: the only global structures are
    // the per-partition offset broadcast and the CC convergence
    // scalar).
    "train_manifest" -> QueryDef(
      (s, d) => {
        val kept = keptSet(Tables.documents(s, d),
          Some(Clusters.sharedLabels(s, d)))
          .withColumn("h",
            md5(concat(col("doc_id").cast("string"), lit(":train"))
              .cast("binary")))
          .withColumn("tok", col("n_tokens").cast("long"))
          .select("doc_id", "n_tokens", "h", "tok")
        graft.operators.Packing
          .withGlobalPrefixSums(kept, Seq("h"), Seq("tok"))
          .select(col("doc_id"), col("n_tokens"),
            col("rn").as("shuffle_rank"),
            floor(col("prefix_tok") / 2048).cast("long").as("bin"))
          .orderBy("shuffle_rank")
      },
      keptInputsSql + """,
         kept AS (
           SELECT s.doc_id, s.n_tokens,
                  md5(CAST(s.doc_id AS VARCHAR) || ':train') AS h
           FROM scored s
           WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
             AND s.quality >= 0.5 AND s.n_tokens >= 20),
         ranked AS (
           SELECT doc_id, n_tokens,
                  row_number() OVER (ORDER BY h) AS shuffle_rank,
                  coalesce(sum(n_tokens) OVER
                    (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS prefix
           FROM kept)
         SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, shuffle_rank,
                CAST(floor(prefix / 2048.0) AS BIGINT) AS bin
         FROM ranked ORDER BY shuffle_rank"""))
}
