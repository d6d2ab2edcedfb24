package graft.similarity

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Distributed vector analytics: dimension-wise aggregation (the
  * building block of centroid computation / mean-pooling at corpus
  * scale) and corpus n-gram statistics. Both decompose into plain
  * shuffles — posexplode spreads each vector over (row, dim) pairs, so a
  * 100 TB corpus centroids with one partial-agg shuffle on (label, dim),
  * never collecting vectors anywhere.
  */
object VectorAnalytics {

  /** Order-independent per-dimension centroid mean at 4 dp — the
    * scaled-integer fold the D94 scaladoc documented, now implemented
    * (round-8 verdict item 5) and applied at every per-dim centroid
    * site (D16/D33/D55/D62/D77/D94). `round(avg(x),4)` over raw
    * doubles sums in engine-specific partial order (Spark partition
    * tree vs DuckDB sequential scan), so a mean landing on an exact
    * 4 dp boundary can round apart between engines. Quantizing each
    * element to a ×10⁴ integer FIRST makes the sum exact and
    * order-independent; one double division + round at the end is
    * then bit-identical on both sides. Semantics: the centroid dim is
    * the 4 dp mean of 4 dp-quantized elements (documented; the oracle
    * replicates the same fold), which for Float32 inputs differs from
    * the raw mean by ≤ 5e-5 — inside the 4 dp output granularity the
    * family already declares.
    */
  private[similarity] def qmean4(x: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val s2 = sum(round(x * 10000, 0).cast("long"))
    val n = count(lit(1))
    // The naive finish `round(S/(10⁴n), 4)` would REINTRODUCE the
    // boundary: S/(10⁴n) is a TERMINATING decimal (denominator
    // 2^a·5^b), so its 5th digit is exactly 5 often, and Spark
    // (BigDecimal HALF_UP on the shortest decimal repr) and DuckDB
    // (C round on the binary double, which sits a hair BELOW the
    // decimal .5) disagree precisely there — caught at sf0.01 on
    // centroid_sim/embedding_outliers. So round half-away-from-zero
    // in EXACT integer arithmetic instead: magnitude (2|S|+n) div
    // (2n), then ONE IEEE division by 10⁴. The floor-of-double
    // division is exact: operands ≤ ~1e10 (exactly representable)
    // and any non-integer quotient is ≥ 1/(2n) ≈ 1e-6 away from an
    // integer, far beyond the ~1e-12 ulp at this magnitude.
    val mag = floor((abs(s2) * 2 + n).cast("double") /
      (n * 2).cast("double"))
    (signum(s2.cast("double")) * mag) / lit(10000.0)
  }

  /** SQL twin of [[qmean4]] over a column `x`, aliased `m`. */
  private val qmean4Sql: String =
    """(CASE WHEN sum(CAST(round(x * 10000, 0) AS BIGINT)) >= 0
                        THEN 1 ELSE -1 END
                   * ((2 * abs(sum(CAST(round(x * 10000, 0) AS BIGINT)))
                       + count(*)) // (2 * count(*))))
                  / 10000.0 AS m"""

  /** A centroid's dims back in `pos` order from its (pos, m) rows. */
  private def dimsInOrder: org.apache.spark.sql.Column =
    transform(array_sort(collect_list(struct(col("pos"), col("m")))),
      x => x.getField("m"))

  /** Embeddings as (vec_id, label, v = the vector widened to double). */
  private def labelVectors(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))

  /** Per-label [[qmean4]] centroids of a [[labelVectors]] frame: the
    * label column, named `labelAs`, and `c`, the centroid's dims in
    * order.
    */
  private def labelCentroids(emb: org.apache.spark.sql.DataFrame,
      labelAs: String): org.apache.spark.sql.DataFrame =
    emb.select(col("label").as(labelAs), posexplode(col("v")))
      .groupBy(labelAs, "pos")
      .agg(qmean4(col("col")).as("m"))
      .groupBy(labelAs)
      .agg(dimsInOrder.as("c"))

  /** SQL twin of [[labelCentroids]] up to the per-dim means: `dims`
    * (label, pos, x), then `cent` selecting `label` (the label column
    * or its alias), pos and `m` per (label, pos).
    */
  private def labelCentSql(label: String): String =
    s"""WITH dims AS (
           SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, unnest(range(1, 65)) AS t(i)),
         cent AS (
           SELECT $label, pos, $qmean4Sql
           FROM dims GROUP BY 1, 2),"""

  /** D89 core — per-label L2-norm audit of an (label, embedding)
    * frame. Factored out so specs can plant unit/zero/scaled vectors
    * and check the envelope and counters.
    */
  def normProfile(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nrm = sqrt(aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    emb
      .select(col("label"), nrm.as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        // mean from lossless ×10000 integer sums of the 4 dp-rounded
        // norm (the D87 discipline): an avg() over raw doubles sums in
        // partition order and can round differently between engines at
        // a 4 dp boundary; the integer sum is order-independent
        sum(round(col("nrm") * 10000, 0).cast("long")).as("_sn"),
        round(min("nrm"), 4).as("min_norm"),
        round(max("nrm"), 4).as("max_norm"),
        sum(when(abs(col("nrm") - 1.0) <= 0.01, lit(1L))
          .otherwise(lit(0L))).as("n_unit"),
        sum(when(col("nrm") < 1e-6, lit(1L)).otherwise(lit(0L)))
          .as("n_zero"))
      .select(col("label"), col("n_vecs"),
        round(col("_sn") / (lit(10000.0) * col("n_vecs")), 4)
          .as("mean_norm"),
        col("min_norm"), col("max_norm"), col("n_unit"), col("n_zero"))
      .orderBy("label")
  }

  /** D94 core — per-source centroid L2 drift from the corpus centroid,
    * over (vec_id, embedding) tagged by a (vec_id, source) frame.
    * Factored out so specs can plant orthogonal sources with a known
    * midpoint centroid.
    *
    * Cross-engine determinism: per-dimension means use [[qmean4]]
    * (the ×10⁴ scaled-integer fold — round-8 fix), so the centroid
    * dims are bit-identical across engines by construction; the
    * remaining folds are sequential on both sides.
    */
  def sourceDrift(embRaw: org.apache.spark.sql.DataFrame,
      src: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val emb = embRaw.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val j = emb.join(src, "vec_id")
    val dims = j.select(col("source"), posexplode(col("v")))
    val carr = dims.groupBy("source", "pos")
      .agg(qmean4(col("col")).as("m"))
      .groupBy("source")
      .agg(dimsInOrder.as("c"))
    val garr = dims.groupBy("pos")
      .agg(qmean4(col("col")).as("m"))
      .agg(dimsInOrder.as("g"))
    val nv = j.groupBy("source").agg(count(lit(1)).as("n_vecs"))
    carr.join(nv, "source")
      .crossJoin(broadcast(garr))
      .select(col("source"), col("n_vecs"),
        round(sqrt(aggregate(
          zip_with(col("c"), col("g"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)), 4).as("l2_drift"))
      .orderBy("source")
  }

  val defs: Map[String, QueryDef] = Map(

    // Per-label centroid norms: posexplode → dimension-wise qmean4 →
    // reassemble sorted → sequential-fold L2 norm. Round 8: joined to
    // the family discipline — per-dim means from the scaled-integer
    // fold (bit-identical across engines), and the 64-term norm sum as
    // a SEQUENTIAL array fold on both sides instead of a groupBy sum
    // (whose partial order is engine-specific), so no arithmetic in
    // the chain depends on aggregation order.
    "label_centroids" -> QueryDef(
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")))
          .groupBy("label", "pos")
          .agg(qmean4(col("col").cast("double")).as("m"))
          .groupBy("label")
          .agg(dimsInOrder.as("c"), count(lit(1)).as("n_dims"))
          .select(col("label"),
            round(sqrt(aggregate(transform(col("c"), x => x * x),
              lit(0.0), (acc, x) => acc + x)), 4).as("centroid_norm"),
            col("n_dims"))
          .orderBy("label"),
      """WITH dims AS (
           SELECT label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, unnest(range(1, 65)) AS t(i)),
         centroid AS (
           SELECT label, pos,
                  """ + qmean4Sql + """
           FROM dims GROUP BY label, pos),
         carr AS (
           SELECT label, list(m ORDER BY pos) AS c, count(*) AS n_dims
           FROM centroid GROUP BY label)
         SELECT label,
                round(sqrt(list_sum([c[i] * c[i] for i in range(1, 65)])), 4)
                  AS centroid_norm,
                n_dims
         FROM carr ORDER BY label"""),

    // Corpus bigram frequency: the n-gram statistics pass of a language
    // model data pipeline (explode 2-gram shingles, global count, top 20).
    "top_bigrams" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(graft.functions.HashOps.wordShingles(col("text"), 2))
            .as("bigram"))
          .groupBy("bigram")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("n_docs").desc, col("bigram"))
          .limit(20),
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         bg AS (
           SELECT doc_id,
                  unnest(list_distinct([array_to_string(t[i:i+1], ' ')
                                        for i in range(1, len(t))])) AS bigram
           FROM toks WHERE len(t) >= 2)
         SELECT bigram, count(*) AS n_docs
         FROM bg GROUP BY bigram
         ORDER BY n_docs DESC, bigram LIMIT 20"""),

    // D33 — nearest-centroid assignment (the k-means predict step /
    // cluster-labeling pass): per-label centroids → assign every vector
    // to its nearest centroid by squared L2 → label-vs-predicted
    // confusion counts. Centroids are label-count-bounded (genuinely
    // small), so the broadcast is safe at any corpus size; the scan
    // side streams once with no shuffle until the final tiny count agg.
    // Determinism across engines: centroids are rounded to 4 dp on
    // BOTH sides before the distance fold, and the fold itself is
    // sequential over dims in both engines (Spark `aggregate`, DuckDB
    // `list_sum`), so distances are bit-identical and the argmin
    // (ties → smaller label) cannot diverge: the centroid list is
    // sorted label-ascending and the fold keeps the FIRST strict
    // minimum, which is exactly the oracle's ORDER BY dist, c_label.
    // Plan shape: ALL centroids ride in one broadcast single-row
    // array, so the corpus scan stays narrow — no m-way fan-out, no
    // per-vector shuffle, no window; the only exchange is the final
    // label-count-bounded confusion-matrix aggregate.
    "centroid_assign" -> QueryDef(
      (s, d) => {
        val emb = labelVectors(s, d)
        val cent = labelCentroids(emb, "c_label")
        val centArr = cent.agg(
          array_sort(collect_list(struct(col("c_label"), col("c")))).as("cents"))
        emb.crossJoin(broadcast(centArr))
          .withColumn("best",
            aggregate(col("cents"),
              struct(lit(Double.MaxValue).as("bd"), lit(-1).as("bl")),
              (acc, ct) => {
                val dd = aggregate(
                  zip_with(col("v"), ct.getField("c"),
                    (a, b) => (a - b) * (a - b)),
                  lit(0.0), (s2, x) => s2 + x)
                when(dd < acc.getField("bd"),
                  struct(dd.as("bd"), ct.getField("c_label").as("bl")))
                  .otherwise(acc)
              }))
          .groupBy(col("label"), col("best").getField("bl").as("pred_label"))
          .agg(count(lit(1)).as("n"))
          .orderBy("label", "pred_label")
      },
      labelCentSql("label AS c_label") + """
         carr AS (
           SELECT c_label, list(m ORDER BY pos) AS c FROM cent GROUP BY 1),
         scored AS (
           SELECT e.vec_id, e.label, c.c_label,
                  list_sum([(CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                            * (CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                            for i in range(1, 65)]) AS dist
           FROM embeddings e, carr c),
         best AS (
           SELECT vec_id, label, c_label,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, c_label) AS rn
           FROM scored)
         SELECT label, c_label AS pred_label, count(*) AS n
         FROM best WHERE rn = 1 GROUP BY 1, 2
         ORDER BY label, pred_label"""),

    // D42 — random-projection dimensionality reduction (64 → 8 dims),
    // the JL-style compression step before clustering or coarse ANN at
    // corpus scale. The projection matrix is Achlioptas-sparse
    // (r_ij ∈ {+1, 0, −1} with p = {1/6, 2/3, 1/6}) generated from a
    // DETERMINISTIC integer hash of (i, j) — no stored matrix, no
    // rand(): any executor (or engine) regenerates the same matrix,
    // which is what makes the output reproducible and oracle-checkable.
    // Per output dim the fold over input dims is SEQUENTIAL in both
    // engines (Spark `aggregate`, DuckDB `list_sum`), so sums are
    // bit-identical before the 4 dp round. Scan-local: no shuffle at
    // all until the ORDER BY.
    "random_projection" -> QueryDef(
      (s, d) => {
        def projExpr(j: Int): String = {
          val sign = s"(CASE ((CAST(i AS BIGINT) * 73856093) ^ (${j}L * 19349663)) % 6 " +
            "WHEN 0 THEN 1.0D WHEN 5 THEN -1.0D ELSE 0.0D END)"
          // + 0.0 normalizes IEEE signed zero: Spark's BigDecimal
          // half-up round yields +0.0 for a tiny negative sum where
          // DuckDB's C round keeps -0.0, and the gate's repr-compare
          // distinguishes them (first hit at the sf1 scale step)
          s"round(aggregate(sequence(0, 63), CAST(0 AS DOUBLE), " +
            s"(acc, i) -> acc + CAST(element_at(embedding, i + 1) AS DOUBLE) * $sign), 4) + 0.0D AS p$j"
        }
        Tables.embeddings(s, d)
          .selectExpr(Seq("vec_id") ++ (0 until 8).map(projExpr): _*)
          .orderBy("vec_id")
      }, {
        def projSql(j: Int): String =
          s"""round(list_sum([CAST(embedding[i + 1] AS DOUBLE) *
               (CASE xor(CAST(i AS BIGINT) * 73856093, $j * 19349663) % 6
                WHEN 0 THEN CAST(1.0 AS DOUBLE)
                WHEN 5 THEN CAST(-1.0 AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END)
               for i in range(0, 64)]), 4) + 0.0 AS p$j"""
        s"""SELECT vec_id, ${(0 until 8).map(projSql).mkString(",\n")}
            FROM embeddings ORDER BY vec_id"""
      }),

    // D55 — inter-cluster similarity matrix: cosine between every pair
    // of label centroids — the redundancy map a curation pipeline reads
    // before merging or re-weighting clusters. Two stages, both tiny on
    // the wire: a (label, dim) partial-agg shuffle builds centroids
    // (corpus never moves), then the pairwise cosine runs on the
    // label-count-bounded centroid set (m² pairs for m labels — driver-
    // scale regardless of corpus size). Determinism across engines:
    // centroid dims round to 4 dp on both sides before the cosine, and
    // the dim folds are sequential in both engines (Spark `aggregate`,
    // DuckDB list comprehension), so the 4 dp result cannot diverge.
    "centroid_sim" -> QueryDef(
      (s, d) => {
        val cent = labelCentroids(labelVectors(s, d), "label")
        val a = cent.select(col("label").as("label_a"), col("c").as("ca"))
        val b = cent.select(col("label").as("label_b"), col("c").as("cb"))
        a.crossJoin(broadcast(b))
          .filter(col("label_a") < col("label_b"))
          .withColumn("dot",
            aggregate(zip_with(col("ca"), col("cb"), (x, y) => x * y),
              lit(0.0), (acc, x) => acc + x))
          .withColumn("na",
            sqrt(aggregate(transform(col("ca"), x => x * x),
              lit(0.0), (acc, x) => acc + x)))
          .withColumn("nb",
            sqrt(aggregate(transform(col("cb"), x => x * x),
              lit(0.0), (acc, x) => acc + x)))
          .select(col("label_a"), col("label_b"),
            round(col("dot") / (col("na") * col("nb")), 4).as("cosine"))
          .orderBy("label_a", "label_b")
      },
      labelCentSql("label") + """
         carr AS (SELECT label, list(m ORDER BY pos) AS c FROM cent GROUP BY 1)
         SELECT a.label AS label_a, b.label AS label_b,
                round(list_sum([a.c[i] * b.c[i] for i in range(1, 65)])
                      / (sqrt(list_sum([a.c[i] * a.c[i] for i in range(1, 65)]))
                         * sqrt(list_sum([b.c[i] * b.c[i] for i in range(1, 65)]))),
                      4) AS cosine
         FROM carr a JOIN carr b ON a.label < b.label
         ORDER BY label_a, label_b"""),

    // D62 — embedding outlier mining: the 3 vectors FARTHEST from their
    // label centroid per label — the mislabeled/noise-document detector
    // a curation pipeline runs after clustering. Rank-based, not
    // threshold-based: a z-score cutoff puts engine-ulp noise on a
    // decision boundary, while ranking on the 4 dp-rounded distance
    // (vec_id tiebreak) is total-ordered and cannot diverge. Centroids
    // broadcast (label-bounded); distances fold sequentially in both
    // engines; the per-label window partitions are block-bounded.
    "embedding_outliers" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = labelVectors(s, d)
        val cent = labelCentroids(emb, "label")
        val w = Window.partitionBy("label")
          .orderBy(col("dist").desc, col("vec_id"))
        emb.join(broadcast(cent), "label")
          .withColumn("dist",
            round(sqrt(aggregate(
              zip_with(col("v"), col("c"), (a, b) => (a - b) * (a - b)),
              lit(0.0), (acc, x) => acc + x)), 4))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("label"), col("rank"), col("vec_id"), col("dist"))
          .orderBy("label", "rank")
      },
      labelCentSql("label") + """
         carr AS (SELECT label, list(m ORDER BY pos) AS c FROM cent GROUP BY 1),
         scored AS (
           SELECT e.vec_id, e.label,
                  round(sqrt(list_sum(
                    [(CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                     * (CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                     for i in range(1, 65)])), 4) AS dist
           FROM embeddings e JOIN carr c USING (label)),
         ranked AS (
           SELECT label, vec_id, dist,
                  row_number() OVER (PARTITION BY label
                                     ORDER BY dist DESC, vec_id) AS rank
           FROM scored)
         SELECT label, CAST(rank AS INT) AS rank, vec_id, dist
         FROM ranked WHERE rank <= 3 ORDER BY label, rank"""),

    // D77 — simplified (medoid-free) silhouette per label: a = distance
    // to own centroid, b = nearest OTHER centroid, sil = (b−a)/max(a,b),
    // averaged per label — the cluster-quality readout a curation
    // pipeline checks before trusting centroid_assign labels. Scale
    // shape mirrors centroid_assign: centroids are label-count-bounded
    // and broadcast; the corpus streams once through the distance fold
    // and collapses to (vec, label) then label — no vector ever
    // shuffles. Determinism: centroids round to 4 dp on both sides
    // before the SEQUENTIAL per-dim fold (Spark `aggregate` ≡ DuckDB
    // list comprehension), sqrt/divide are correctly rounded, min/
    // greatest compare identical doubles, and the final per-label mean
    // is 4 dp-rounded (lm_score precedent for distributed double avg).
    // a = b = 0 (vector ON a duplicated centroid) would divide by zero:
    // guarded to NULL on both sides, and avg skips NULLs identically.
    "cluster_silhouette" -> QueryDef(
      (s, d) => {
        val emb = labelVectors(s, d)
        val cent = labelCentroids(emb, "c_label")
        val ab = emb.crossJoin(broadcast(cent))
          .withColumn("dist",
            sqrt(aggregate(
              zip_with(col("v"), col("c"), (a, b) => (a - b) * (a - b)),
              lit(0.0), (acc, x) => acc + x)))
          .groupBy("vec_id", "label")
          .agg(
            min(when(col("c_label") === col("label"), col("dist"))).as("a"),
            min(when(col("c_label") =!= col("label"), col("dist"))).as("b"))
        ab.select(col("label"),
            when(greatest(col("a"), col("b")) > 0,
              (col("b") - col("a")) / greatest(col("a"), col("b")))
              .as("sil"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            round(avg("sil"), 4).as("avg_sil"))
          .orderBy("label")
      },
      labelCentSql("label AS c_label") + """
         carr AS (
           SELECT c_label, list(m ORDER BY pos) AS c FROM cent GROUP BY 1),
         scored AS (
           SELECT e.vec_id, e.label, c.c_label,
                  sqrt(list_sum([(CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                                 * (CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                                 for i in range(1, 65)])) AS dist
           FROM embeddings e, carr c),
         ab AS (
           SELECT vec_id, label,
                  min(CASE WHEN c_label = label THEN dist END) AS a,
                  min(CASE WHEN c_label <> label THEN dist END) AS b
           FROM scored GROUP BY 1, 2),
         sil AS (
           SELECT label,
                  CASE WHEN greatest(a, b) > 0
                       THEN (b - a) / greatest(a, b) END AS s
           FROM ab)
         SELECT label, count(*) AS n_vecs, round(avg(s), 4) AS avg_sil
         FROM sil GROUP BY label ORDER BY label"""),

    // D89 — embedding L2-norm audit per label: the sanity gate every
    // vector pipeline runs before cosine math — un-normalized or
    // zero vectors silently corrupt cosine top-k (D6) and centroid
    // geometry (D16/D33), so the audit reports each label's norm
    // envelope plus how many vectors sit within 1% of unit norm and
    // how many are effectively zero. Scan-local per row (one
    // sequential fold over the 64 dims — same discipline as D33's
    // distance fold, so both engines produce bit-identical norms
    // before the label-bounded collapse), one dimension-bounded
    // aggregate; min/max are exact on identical doubles, avg is the
    // 4 dp-round-over-identical-values discipline the family already
    // gate-proves.
    "embedding_norm_profile" -> QueryDef(
      (s, d) => normProfile(Tables.embeddings(s, d)),
      """WITH norms AS (
           SELECT label,
                  sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[i] AS DOUBLE)
                                 for i in range(1, 65)])) AS nrm
           FROM embeddings)
         SELECT label, count(*) AS n_vecs,
                round(sum(CAST(round(nrm * 10000, 0) AS BIGINT))
                      / (10000.0 * count(*)), 4) AS mean_norm,
                round(min(nrm), 4) AS min_norm,
                round(max(nrm), 4) AS max_norm,
                CAST(sum(CASE WHEN abs(nrm - 1.0) <= 0.01 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_unit,
                CAST(sum(CASE WHEN nrm < 0.000001 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_zero
         FROM norms GROUP BY label ORDER BY label"""),

    // D94 — per-source embedding drift: L2 distance between each
    // source's embedding centroid and the corpus centroid — the
    // EMBEDDING-space twin of D84's lexical KL. A feed whose centroid
    // drifts between snapshots changed content in a way unigram
    // statistics can miss (same words, different topics/templates);
    // at curation time the two signals together say whether to
    // re-balance the mix. Plan shape: one doc_id-keyed join tags
    // vectors with their source (fact-fact, shuffle), then BOTH
    // centroids come from one posexplode pass (dimension-bounded
    // aggregates, map-side partial), and the distance folds
    // sequentially over the 4 dp-rounded centroid pair exactly as
    // D33 does — the rounding makes the fold inputs engine-identical.
    "source_embedding_drift" -> QueryDef(
      (s, d) => sourceDrift(
        Tables.embeddings(s, d).select("vec_id", "embedding"),
        Tables.documents(s, d)
          .select(col("doc_id").as("vec_id"), col("source"))),
      """WITH joined AS (
           SELECT d.source, e.embedding
           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         dims AS (
           SELECT source, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
           FROM joined, unnest(range(1, 65)) AS t(i)),
         cent AS (
           SELECT source, pos, """ + qmean4Sql + """
           FROM dims GROUP BY 1, 2),
         carr AS (SELECT source, list(m ORDER BY pos) AS c
                  FROM cent GROUP BY 1),
         gc AS (SELECT pos, """ + qmean4Sql + """ FROM dims GROUP BY 1),
         garr AS (SELECT list(m ORDER BY pos) AS g FROM gc),
         nv AS (SELECT source, count(*) AS n_vecs FROM joined GROUP BY 1)
         SELECT c.source, nv.n_vecs,
                round(sqrt(list_sum([(c.c[i] - garr.g[i])
                                     * (c.c[i] - garr.g[i])
                                     for i in range(1, 65)])), 4) AS l2_drift
         FROM carr c JOIN nv USING (source), garr
         ORDER BY source"""))
}
