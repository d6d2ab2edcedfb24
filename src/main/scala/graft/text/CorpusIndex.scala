package graft.text

import org.apache.spark.sql.functions._
import graft.functions.TopKAgg
import graft.{QueryDef, Tables}

/** Corpus indexing + exact-substring dedup (SURVEY §2 D31/D32): the
  * posting-list build and the paragraph-granularity exact dedup pass a
  * training-data pipeline runs between ingestion and near-dup scoring.
  */
object CorpusIndex {

  /** Non-overlapping chunk rows (doc_id, pos, chunk) for a corpus. */
  private[graft] def chunkRows(docs: org.apache.spark.sql.DataFrame,
      chunkLen: Int): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("t", split(trim(col("text")), "\\s+"))
      .withColumn("nchunks", floor(size(col("t")) / chunkLen).cast("int"))
      .filter(col("nchunks") > 0)
      .withColumn("chunks",
        transform(sequence(lit(0), col("nchunks") - 1),
          i => array_join(
            slice(col("t"), i * chunkLen + 1, lit(chunkLen)), " ")))
      .select(col("doc_id"), posexplode(col("chunks")))
      .withColumnRenamed("col", "chunk")

  /** D88 core — per-source duplicated-span coverage over the chunk
    * grid. `chunkSet` feeds the memoized [[sharedChunks]] asset from
    * catalog entries; specs with planted docs omit it. Docs too short
    * to produce a chunk contribute to `n_docs` only.
    */
  private[graft] def spanCoverage(docs: org.apache.spark.sql.DataFrame,
      chunkLen: Int,
      chunkSet: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val ch = chunkSet.getOrElse(chunkRows(docs, chunkLen))
    val cnts = ch.groupBy("chunk").agg(count(lit(1)).as("cnt"))
    val perDoc = ch.join(cnts, "chunk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nc"),
        sum(when(col("cnt") > 1, lit(1L)).otherwise(lit(0L))).as("nd"))
    docs.select("doc_id", "source")
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("nc"), lit(0L)).as("n_chunks"),
        coalesce(sum("nd"), lit(0L)).as("n_dup_chunks"))
      .withColumn("dup_span_frac",
        when(col("n_chunks") > 0,
          round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4)))
      .orderBy("source")
  }

  /** The CORPUS-WIDE 16-token chunk grid ([[chunkRows]] at
    * [[CorpusChunkTokens]]) as a shared materialized corpus asset,
    * the chunk-family twin of `Dedup.sharedPostings`: three catalog
    * entries (D32 `dedup_exact_para`, D40 `dedup_rewrite`, D83
    * `boilerplate_chunks`) all start from the same tokenize+slice
    * explode of the whole corpus, and Verify/Bench run them
    * back-to-back in one session. A production pipeline materializes
    * the chunk table once per corpus snapshot for exactly this reason.
    * Bench reports the build as its own `shared_chunks_build` line so
    * consumers' timings read as marginal costs; locking, eviction,
    * and the immutable-corpus invariant are documented on AssetMemo.
    */
  private val chunksMemo = new graft.AssetMemo[org.apache.spark.sql.DataFrame]

  def sharedChunks(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    chunksMemo.getOrBuild(s, d) {
      chunkRows(Tables.documents(s, d), CorpusChunkTokens)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Chunk rows annotated with `kept` = corpus-wide first occurrence
    * (min (doc_id, pos)) of the chunk text. First occurrence is a
    * PARTIAL-AGGREGATED `min(struct(doc_id, pos))` joined back — NOT a
    * per-chunk `row_number()` window: a boilerplate chunk repeated in
    * 1% of a 100 TB corpus would put corpus/100 rows into ONE window
    * partition and sort them, while the partial agg collapses the
    * copies map-side before anything shuffles. Both sides of the join
    * shuffle on `chunk`, so the exchange is reused.
    *
    * `chunkSet` lets catalog entries feed the memoized [[sharedChunks]]
    * asset instead of re-exploding the corpus; specs with planted docs
    * omit it.
    */
  private[graft] def chunkKept(docs: org.apache.spark.sql.DataFrame,
      chunkLen: Int,
      chunkSet: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val ch = chunkSet.getOrElse(chunkRows(docs, chunkLen))
    val firsts = ch.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    ch.join(firsts, "chunk")
      .withColumn("kept",
        (col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos"))
          .cast("int"))
      .drop("f")
  }

  /** Exact chunk-dedup core: per-doc (n_chunks, n_kept) where a chunk
    * is kept iff it is the corpus-wide first occurrence (min doc_id,
    * then min position) of its text. Factored out so specs can plant
    * synthetic copied chunks.
    */
  def chunkDedupStats(docs: org.apache.spark.sql.DataFrame,
      chunkLen: Int,
      chunkSet: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame =
    chunkKept(docs, chunkLen, chunkSet)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("kept").as("n_kept"))

  /** Boilerplate-strip core (D83): a chunk occurring MORE THAN ONCE
    * corpus-wide is boilerplate and every copy is dropped; each doc is
    * rebuilt from its surviving chunks plus the un-chunked tail
    * tokens. Per-doc output: (n_chunks, n_kept, text_md5 of the
    * rebuilt text). Factored out so specs can plant synthetic
    * repeated templates.
    */
  def boilerplateStrip(docs: org.apache.spark.sql.DataFrame,
      chunkLen: Int,
      chunkSet: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .withColumn("nchunks",
        floor(size(col("t")) / chunkLen).cast("int"))
    val ch = chunkSet.getOrElse(chunkRows(docs, chunkLen))
    val cnts = ch.groupBy("chunk").agg(count(lit(1)).as("cnt"))
    val keptAgg = ch.join(cnts, "chunk")
      .filter(col("cnt") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("chunk")))),
            x => x.getField("chunk")), " ").as("kept_str"))
    toks
      .join(keptAgg, Seq("doc_id"), "left")
      .withColumn("tail",
        array_join(
          expr(s"slice(t, nchunks*$chunkLen+1, " +
            s"size(t) - nchunks*$chunkLen)"), " "))
      .select(col("doc_id"),
        col("nchunks").cast("long").as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(concat_ws(" ", col("kept_str"),
          expr("nullif(tail, '')")).cast("binary")).as("text_md5"))
  }

  /** Oracle-side chunk-grid budget, in TOKENS per document. The DuckDB
    * twins cannot lazily explode a per-row-variable range, so each
    * chunk oracle unnests a fixed `range(0, N)` grid and filters to
    * the row's real chunk count — N must be ≥ maxDocTokens/chunkLen or
    * the oracle silently under-counts chunks and the gate fails
    * confusingly. One named constant (32× the synthetic corpus' 100-
    * token max doc; a longer-doc corpus must raise it) so every chunk
    * width derives its grid from the same budget: 16-token chunks →
    * 200 rows, 2-token chunks → 1600. The Spark side is unbounded —
    * this caps ONLY the oracle's unnest grid.
    */
  private val OracleMaxDocTokens = 3200

  /** Chunk width (tokens) for the CORPUS-WIDE exact-chunk family —
    * D32 `dedup_exact_para` and D40 `dedup_rewrite`: ~a sentence, the
    * unit at which cross-document boilerplate repeats.
    */
  private[graft] val CorpusChunkTokens = 16

  /** Intra-document dedup core (D56): drop repeated chunks WITHIN each
    * document (first in-doc occurrence wins) and rebuild the text.
    * ROW-LOCAL by construction — one higher-order-function pass over
    * the scan, zero shuffles/joins, no hot-key exposure,
    * embarrassingly parallel at 100 TB. First-occurrence keep is
    * `array_position(chunks, c) == i+1`, O(c²) compares per doc where
    * c = chunks/doc — doc-length-bounded (never corpus-bounded) and
    * cheaper than the two chunk-keyed exchanges it replaces for any
    * realistic document length; a corpus of multi-MB docs would switch
    * this to a per-row hash set via a native Expression before it
    * switched back to a shuffle. Factored out so specs can plant
    * in-doc and cross-doc repeats.
    */
  def intradocStrip(docs: org.apache.spark.sql.DataFrame,
      chunkLen: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .withColumn("nchunks",
        floor(size(col("t")) / chunkLen).cast("int"))
      .withColumn("chunks",
        when(col("nchunks") > 0,
          transform(sequence(lit(0), col("nchunks") - 1),
            i => array_join(
              slice(col("t"), i * chunkLen + 1, lit(chunkLen)), " ")))
          .otherwise(array()))
      .withColumn("kept",
        filter(col("chunks"), (c, i) =>
          array_position(col("chunks"), c) === (i + 1).cast("long")))
      .withColumn("kept_str", array_join(col("kept"), " "))
      .withColumn("tail",
        array_join(
          expr(s"slice(t, nchunks*$chunkLen+1, " +
            s"size(t) - nchunks*$chunkLen)"), " "))
      .select(col("doc_id"),
        col("nchunks").cast("long").as("n_chunks"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", expr("nullif(kept_str, '')"),
          expr("nullif(tail, '')")).cast("binary")).as("text_md5"))

  /** Chunk width for IN-DOCUMENT dedup — D56 `intradoc_dedup`.
    * Deliberately smaller than [[CorpusChunkTokens]]: the synthetic
    * corpus has no paragraph breaks and only short chunks actually
    * repeat WITHIN one document, so a 16-token unit would make the
    * operator a no-op there. The widths differing is intentional;
    * both Spark sides and both oracle unnest grids derive from these
    * two constants, so a width can only be edited in one place.
    */
  private[graft] val IntraDocChunkTokens = 2

  val defs: Map[String, QueryDef] = Map(

    // D31 — inverted-index build: term → (document frequency, term
    // frequency, head of the sorted posting list). The full posting
    // list for a hot term is corpus-proportional, so it must NEVER be
    // collected into one aggregation buffer — df/tf are plain
    // count aggregates, and the bounded head comes from the
    // O(k·partitions) top-k TypedImperativeAggregate (score = -doc_id
    // ⇒ k smallest ids), not collect_set. Both aggregations group on
    // `term`, so AQE reuses one exchange.
    "inverted_index" -> QueryDef(
      (s, d) => {
        val ex = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("term"))
        val stats = ex.groupBy("term")
          .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("tf"))
        val heads = ex.select("term", "doc_id").distinct()
          .groupBy("term")
          .agg(TopKAgg.topK(col("doc_id"), -col("doc_id").cast("double"), 10)
            .as("top"))
          .select(col("term"),
            array_join(
              transform(col("top"), x => x.getField("payload").cast("string")),
              ",").as("postings_head"))
        stats.join(heads, "term").orderBy("term")
      },
      """WITH ex AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(trim(text), '\s+')) AS term
           FROM documents)
         SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf,
                array_to_string(list_sort(list(DISTINCT doc_id))[1:10], ',')
                  AS postings_head
         FROM ex GROUP BY term ORDER BY term"""),

    // D32 — exact paragraph-granularity dedup (the pass run BEFORE
    // fuzzy dedup): the corpus here has no paragraph breaks, so the
    // unit is the non-overlapping 16-token chunk. Every chunk is kept
    // exactly once corpus-wide (first occurrence = min (doc_id, pos));
    // later occurrences are dropped. One shuffle on the chunk hash;
    // per-doc keep stats come back on the doc_id shuffle. At 100 TB
    // the chunk string itself never shuffles twice: the window key is
    // the chunk, and the groupBy collapses to two longs per doc.
    "dedup_exact_para" -> QueryDef(
      (s, d) =>
        chunkDedupStats(Tables.documents(s, d), CorpusChunkTokens,
          Some(sharedChunks(s, d)))
          .orderBy("doc_id"),
      raw"""WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         ch AS (
           -- fixed unnest grid; bound derived from OracleMaxDocTokens
           SELECT doc_id, i AS pos,
                  array_to_string(t[i*$CorpusChunkTokens+1 :
                                    i*$CorpusChunkTokens+$CorpusChunkTokens],
                                  ' ') AS chunk
           FROM toks,
                unnest(range(0, ${OracleMaxDocTokens / CorpusChunkTokens}))
                  AS u(i)
           WHERE i < len(t) // $CorpusChunkTokens),
         ranked AS (
           SELECT doc_id, pos, chunk,
                  row_number() OVER (PARTITION BY chunk
                                     ORDER BY doc_id, pos) AS rn
           FROM ch)
         SELECT doc_id, count(*) AS n_chunks,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept
         FROM ranked GROUP BY doc_id ORDER BY doc_id"""),

    // D40 — exact-substring dedup REWRITE (the C4-style pass that
    // actually edits the corpus, not just flags it): each document is
    // rebuilt from its corpus-wide-first-occurrence chunks plus the
    // un-chunked tail tokens; later occurrences of any 16-token chunk
    // vanish. Same single chunk-key shuffle as D32, then one doc_id
    // shuffle to reassemble — chunk text crosses the wire once. The
    // oracle reconstructs the rewritten text independently and the
    // md5 proves byte-identical output; whitespace is normalized to
    // single spaces by tokenization on both sides.
    "dedup_rewrite" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
          .withColumn("nchunks",
            floor(size(col("t")) / CorpusChunkTokens).cast("int"))
        val keptAgg = chunkKept(docs, CorpusChunkTokens,
            Some(sharedChunks(s, d)))
          .filter(col("kept") === 1)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            array_join(
              transform(
                array_sort(collect_list(struct(col("pos"), col("chunk")))),
                x => x.getField("chunk")), " ").as("kept_str"))
        toks
          .join(keptAgg, Seq("doc_id"), "left")
          .withColumn("tail",
            array_join(
              expr(s"slice(t, nchunks*$CorpusChunkTokens+1, " +
                s"size(t) - nchunks*$CorpusChunkTokens)"), " "))
          .select(col("doc_id"),
            col("nchunks").cast("long").as("n_chunks"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            md5(concat_ws(" ", col("kept_str"),
              expr("nullif(tail, '')")).cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      raw"""WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         meta AS (SELECT doc_id, t,
                         len(t) // $CorpusChunkTokens AS nchunks FROM toks),
         ch AS (
           -- fixed unnest grid; bound derived from OracleMaxDocTokens
           SELECT doc_id, i AS pos,
                  array_to_string(t[i*$CorpusChunkTokens+1 :
                                    i*$CorpusChunkTokens+$CorpusChunkTokens],
                                  ' ') AS chunk
           FROM meta,
                unnest(range(0, ${OracleMaxDocTokens / CorpusChunkTokens}))
                  AS u(i)
           WHERE i < nchunks),
         ranked AS (
           SELECT doc_id, pos, chunk,
                  row_number() OVER (PARTITION BY chunk
                                     ORDER BY doc_id, pos) AS rn
           FROM ch),
         keptagg AS (
           SELECT doc_id, count(*) AS n_kept,
                  array_to_string(list(chunk ORDER BY pos), ' ') AS kept_str
           FROM ranked WHERE rn = 1 GROUP BY doc_id),
         stats AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
         SELECT m.doc_id,
                COALESCE(s.n_chunks, 0) AS n_chunks,
                COALESCE(k.n_kept, 0) AS n_kept,
                md5(concat_ws(' ', k.kept_str,
                    nullif(array_to_string(
                             m.t[m.nchunks*$CorpusChunkTokens+1 : len(m.t)],
                             ' '),
                           ''))) AS text_md5
         FROM meta m
         LEFT JOIN keptagg k USING (doc_id)
         LEFT JOIN stats s USING (doc_id)
         ORDER BY m.doc_id"""),

    // D56 — INTRA-document dedup (the pass BEFORE cross-doc dedup):
    // unit = non-overlapping 2-token chunk (the corpus has no
    // paragraph breaks; 2-token chunks actually repeat within a doc).
    // See [[intradocStrip]] for the row-local zero-shuffle plan shape;
    // the only exchange here is the gate's final ORDER BY.
    "intradoc_dedup" -> QueryDef(
      (s, d) => intradocStrip(Tables.documents(s, d), IntraDocChunkTokens)
        .orderBy("doc_id"),
      raw"""WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         meta AS (SELECT doc_id, t,
                         len(t) // $IntraDocChunkTokens AS nchunks FROM toks),
         ch AS (
           -- LATERAL per-doc grid (round-11): the earlier fixed
           -- range(0, ${OracleMaxDocTokens / IntraDocChunkTokens}) grid
           -- materialized ~1600 rows per doc BEFORE the i < nchunks
           -- filter — 800M grid rows at sf10 against ~12.5M real
           -- chunks, the OOM behind the round-10 sf10 skip; the
           -- column-bounded range emits exactly nchunks rows per doc
           SELECT doc_id, i AS pos,
                  array_to_string(t[i*$IntraDocChunkTokens+1 :
                                    i*$IntraDocChunkTokens+$IntraDocChunkTokens],
                                  ' ') AS chunk
           FROM meta, unnest(range(0, nchunks)) AS u(i)),
         firsts AS (
           SELECT doc_id, chunk, min(pos) AS pos
           FROM ch GROUP BY doc_id, chunk),
         keptagg AS (
           SELECT doc_id, count(*) AS n_kept,
                  array_to_string(list(chunk ORDER BY pos), ' ') AS kept_str
           FROM firsts GROUP BY doc_id),
         fin AS (
           SELECT m.doc_id,
                  CAST(m.nchunks AS BIGINT) AS n_chunks,
                  COALESCE(k.n_kept, 0) AS n_kept,
                  md5(concat_ws(' ', k.kept_str,
                      nullif(array_to_string(
                               m.t[m.nchunks*$IntraDocChunkTokens+1 : len(m.t)],
                               ' '),
                             ''))) AS text_md5
           FROM meta m
           LEFT JOIN keptagg k USING (doc_id))
         -- NO ORDER BY (round 11): a sort anywhere above the
         -- join+projection makes DuckDB hold the pre-projection token
         -- lists through the sort and OOM past 100 GB at sf10, where
         -- the unordered query runs in ~45 s; the driver compare
         -- sorts both sides itself, so SQL order is immaterial
         SELECT * FROM fin"""),

    // D83 — boilerplate-chunk removal (the C4/CCNet-style strip):
    // drop EVERY occurrence of any 16-token chunk that appears more
    // than once corpus-wide — headers, footers, license blocks,
    // navigation text. The aggressive complement of D40's keep-first
    // rewrite: a template shared by 10k pages conveys no training
    // signal from ANY of its copies, so none survives. Plan shape is
    // D40's: one chunk-key shuffle for the occurrence counts, the
    // chunk rows join back on the SAME key (exchange reused, the
    // count side partial-aggregates map-side — a 1%-of-corpus
    // boilerplate chunk collapses to one (chunk, cnt) row before
    // anything shuffles), then one doc_id shuffle reassembles the
    // surviving text. md5 proves the rewrite byte-identical vs the
    // oracle's independent reconstruction.
    "boilerplate_chunks" -> QueryDef(
      (s, d) => boilerplateStrip(Tables.documents(s, d), CorpusChunkTokens,
        Some(sharedChunks(s, d)))
        .orderBy("doc_id"),
      raw"""WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         meta AS (SELECT doc_id, t,
                         len(t) // $CorpusChunkTokens AS nchunks FROM toks),
         ch AS (
           -- fixed unnest grid; bound derived from OracleMaxDocTokens
           SELECT doc_id, i AS pos,
                  array_to_string(t[i*$CorpusChunkTokens+1 :
                                    i*$CorpusChunkTokens+$CorpusChunkTokens],
                                  ' ') AS chunk
           FROM meta,
                unnest(range(0, ${OracleMaxDocTokens / CorpusChunkTokens}))
                  AS u(i)
           WHERE i < nchunks),
         cnts AS (SELECT chunk, count(*) AS cnt FROM ch GROUP BY chunk),
         keptagg AS (
           SELECT doc_id, count(*) AS n_kept,
                  array_to_string(list(chunk ORDER BY pos), ' ') AS kept_str
           FROM ch JOIN cnts USING (chunk) WHERE cnt = 1
           GROUP BY doc_id)
         SELECT m.doc_id,
                CAST(m.nchunks AS BIGINT) AS n_chunks,
                COALESCE(k.n_kept, 0) AS n_kept,
                md5(concat_ws(' ', k.kept_str,
                    nullif(array_to_string(
                             m.t[m.nchunks*$CorpusChunkTokens+1 : len(m.t)],
                             ' '),
                           ''))) AS text_md5
         FROM meta m
         LEFT JOIN keptagg k USING (doc_id)
         ORDER BY m.doc_id"""),

    // D88 — duplicated-SPAN coverage per source: what fraction of each
    // feed's 16-token chunk grid is text that occurs elsewhere in the
    // corpus (chunk occurrence count > 1). The span-granular
    // complement of D63's doc-level dup_rate: a feed can have ZERO
    // whole-doc near-dups yet be 40% boilerplate spans, and it's the
    // span number that predicts what D83's strip will delete from it.
    // Plan shape: the shared chunk-grid asset shuffles once on chunk
    // for occurrence counts (map-side partial agg collapses every
    // boilerplate chunk's copies before the wire), the grid joins back
    // on the SAME key (exchange reused), collapses doc-keyed, then the
    // source roll-up is dimension-bounded. Counts are exact longs;
    // the one ratio divides them once per source, 4 dp.
    "dup_span_coverage" -> QueryDef(
      (s, d) => spanCoverage(Tables.documents(s, d), CorpusChunkTokens,
        Some(sharedChunks(s, d))),
      raw"""WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         meta AS (SELECT doc_id, t,
                         len(t) // $CorpusChunkTokens AS nchunks FROM toks),
         ch AS (
           SELECT doc_id, i AS pos,
                  array_to_string(t[i*$CorpusChunkTokens+1 :
                                    i*$CorpusChunkTokens+$CorpusChunkTokens],
                                  ' ') AS chunk
           FROM meta,
                unnest(range(0, ${OracleMaxDocTokens / CorpusChunkTokens}))
                  AS u(i)
           WHERE i < nchunks),
         cnts AS (SELECT chunk, count(*) AS cnt FROM ch GROUP BY chunk),
         per_doc AS (
           SELECT doc_id, count(*) AS nc,
                  sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS nd
           FROM ch JOIN cnts USING (chunk) GROUP BY doc_id)
         SELECT d.source, count(*) AS n_docs,
                CAST(COALESCE(sum(p.nc), 0) AS BIGINT) AS n_chunks,
                CAST(COALESCE(sum(p.nd), 0) AS BIGINT) AS n_dup_chunks,
                CASE WHEN COALESCE(sum(p.nc), 0) > 0
                     THEN round(CAST(COALESCE(sum(p.nd), 0) AS DOUBLE)
                                / COALESCE(sum(p.nc), 0), 4) END
                  AS dup_span_frac
         FROM documents d LEFT JOIN per_doc p USING (doc_id)
         GROUP BY d.source
         ORDER BY d.source"""))
}
