package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HashOps, VectorOps}
import graft.{QueryDef, Tables}

/** Deduplication operators for LLM-training-data curation (SURVEY §2 D1–D5).
  *
  * Scale discipline: NOTHING here is globally O(n²). Every near-dup
  * operator first maps each document to a small set of join keys
  * (shingles, LSH bands, simhash bands, labels) and only compares within
  * key groups — candidate generation is a single shuffle on the key, and
  * verification touches candidate pairs only.
  */
object Dedup {

  /** Distinct 3-gram word shingles via the native one-pass expression
    * (`HashOps.wordShingles`) — the composed
    * array_distinct/transform/element_at pipeline gets inlined by
    * Catalyst into every consumer and re-evaluated through interpreted
    * lambdas (~7× slower end-to-end on the dedup_ngram plan). Docs with
    * fewer than 3 tokens yield an empty array; downstream explodes drop
    * them with no separate filter (a filter would re-inline the
    * expression).
    */
  def withShingles(docs: DataFrame): DataFrame =
    docs.withColumn("shingles",
      graft.functions.HashOps.wordShingles(col("text"), 3))

  /** D2 core — exact Jaccard near-dup pairs via a shingle inverted
    * index: explode distinct shingles, self-join on shingle, count
    * common per pair, filter by Jaccard.
    *
    * Hot-shingle document-frequency cap (the 100 TB discipline): one
    * boilerplate shingle present in 0.1% of a 10⁹-doc corpus makes its
    * inverted list 10⁶ long and the per-shingle self-join 10¹² pairs.
    * Shingles with df > max(minDfCap, hotDfFrac·corpus) are dropped from
    * CANDIDATE GENERATION: such a shingle is shared by so many documents
    * that it carries no near-dup signal. `n` (each doc's true shingle
    * count) is taken BEFORE the cap, so Jaccard for surviving pairs only
    * loses the capped shingles from `common` — an undercount bounded by
    * (#hot shingles shared)/union, the standard inverted-index pruning
    * approximation. The absolute floor keeps small corpora exact: at
    * sf0.01 (500 docs < minDfCap) no shingle is ever dropped, so the
    * DuckDB oracle semantics are unchanged; DedupSpec checks the
    * bounding behavior with a synthetic boilerplate shingle.
    *
    * Cost: one extra groupBy on `s` producing the (tiny) hot-shingle
    * set, consumed as a left-anti join that AQE plans as a broadcast.
    * Both aggregations shuffle on `s`, so the exchange is reused.
    */
  /** Exploded shingle postings (doc_id, n, s) for a corpus — the
    * inverted-index input every pair pass consumes (n = the doc's
    * distinct-shingle count, taken BEFORE any df cap). Callers that
    * compose SEVERAL passes over one corpus (cc_incremental: base
    * pairing + probe + batch pairing + hot set) materialize this once
    * and slice it by doc_id instead of re-tokenizing the corpus per
    * pass — at scale the postings table IS the precomputed index
    * state a production pipeline stores.
    */
  def postings(docs: DataFrame): DataFrame =
    withShingles(docs)
      .select(col("doc_id"), size(col("shingles")).as("n"),
        explode(col("shingles")).as("s"))

  /** The hot-shingle set of a corpus (df > max(minDfCap, hotDfFrac·n))
    * as its own DataFrame, so callers composing SEVERAL pair passes
    * over slices of one corpus (incremental dedup: base pairing +
    * probe + batch pairing) can compute the set ONCE over the full
    * corpus and pass it to every pass via `hotSet` — per-slice df
    * thresholds would otherwise disagree with a full recompute above
    * the cap (the round-5 cc_incremental caveat, now closed).
    */
  def hotShingles(docs: DataFrame, hotDfFrac: Double = 0.001,
      minDfCap: Long = 1000L,
      postingsSet: Option[DataFrame] = None): DataFrame = {
    val ex = postingsSet.getOrElse(postings(docs))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    // exact integer floor division (n − n mod d is an exact multiple,
    // its double quotient is exact): the n·frac double product could
    // disagree with the oracle's exact-DECIMAL floor by 1 near exact
    // multiples of 1/frac docs, shifting df==cap boundary shingles
    // across the hot cut (round-9 advice item 2)
    val div = math.max(1L, math.round(1.0 / hotDfFrac))
    val capCol = ((col("n_docs") - pmod(col("n_docs"), lit(div)))
      / lit(div)).cast("long")
    ex.groupBy("s").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > greatest(lit(minDfCap), capCol))
      .select("s")
  }

  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      hotDfFrac: Double = 0.001, minDfCap: Long = 1000L,
      hotSet: Option[DataFrame] = None,
      postingsSet: Option[DataFrame] = None): DataFrame = {
    val ex = coldPostings(docs, hotDfFrac, minDfCap, hotSet, postingsSet)
    jaccardVerified(ex, ex,
      col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"), threshold)
  }

  /** Postings (`postingsSet`, or built) without the hot shingles
    * (`hotSet`, or capped from their df).
    */
  private def coldPostings(docs: DataFrame, hotDfFrac: Double,
      minDfCap: Long, hotSet: Option[DataFrame],
      postingsSet: Option[DataFrame]): DataFrame = {
    val exAll = postingsSet.getOrElse(postings(docs))
    val hot = hotSet.getOrElse(
      hotShingles(docs, hotDfFrac, minDfCap, postingsSet = Some(exAll)))
    exAll.join(hot, Seq("s"), "left_anti")
  }

  /** Postings pairs `a`, `b` joined `on` a shared shingle, verified by
    * exact 3-gram Jaccard ≥ `threshold`: (doc_a, doc_b, jaccard at
    * 4 dp). The join also applies the lossless size-band prune:
    * j = common/(na+nb-common) ≤ min(na,nb)/max(na,nb), so j ≥ t
    * requires max ≤ min/t — pairs outside the band can't qualify.
    */
  private def jaccardVerified(a: DataFrame, b: DataFrame, on: Column,
      threshold: Double): DataFrame =
    a.as("a")
      .join(b.as("b"), on &&
        col("a.n") * lit(threshold) <= col("b.n") &&
        col("b.n") * lit(threshold) <= col("a.n"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"),
        first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .withColumn("jaccard",
        col("common") * lit(1.0) / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  /** The corpus near-dup pair graph (3-gram Jaccard ≥ 0.5 on the
    * `documents` table) as a shared MATERIALIZED corpus asset. Seven
    * catalog entries consume this graph (dedup_ngram, dedup_clusters,
    * dedup_canonical, pagerank_docs, dupgraph_degrees, curate_keep,
    * train_manifest) and Verify/Bench run them back-to-back in one
    * session — without memoization the shingle self-join re-executes
    * for each, exactly the overhead the SyntheticOrders memo removes
    * on the ingest side. A production pipeline does the same thing:
    * the pair graph is computed once per corpus snapshot and stored;
    * downstream stages read it. Cached in an AssetMemo (locking,
    * eviction and the immutable-corpus invariant are documented
    * there). Bench reports the build as its own `shared_pairs_build`
    * line so the consumers' per-query timings read as marginal costs.
    */
  private val pairsMemo = new graft.AssetMemo[DataFrame]

  /** Absolute candidate budget for the shared pair graph: the exact
    * inverted-index self-join emits exactly Σ df·(df−1) candidate rows
    * over the non-hot df spectrum, so the dispatcher measures that sum
    * and takes the lossless path only while it is affordable. 1e9 rows
    * ≈ one minute of candidate hashing at the measured sf1 rate
    * (2.5e8 → 16.2 s); every committed gate SF sits under it (sf0.01
    * 2.8e4, sf0.1 2.5e6, sf1 2.5e8 — exact branch, proofs unchanged)
    * and the dense sf10 decade (~2.5e10) sits far above it. The SAME
    * literal appears in [[MurmurSql.pairGraphChainSql]] — the oracle
    * replicates the dispatch rule, not just the branches.
    */
  private[graft] val pairsCandidateBudget: Long = 1000000000L

  /** Resolved pair-graph plan of the LAST sharedPairs build in this
    * JVM ("exact" | "lsh"; "unbuilt" before any build) — bench
    * artifacts tag their JSON with it so approximate-mode numbers can
    * never be mistaken for exact-mode ones (round-8 advice item).
    */
  @volatile private var lastPairsPlan: String = "unbuilt"
  def pairsPlanResolved: String = lastPairsPlan

  /** Memoized dispatch DECISION per (session, corpus) — a boolean, not
    * a frame. Kept separate from the frame memos so the LSH branch can
    * alias [[sharedMinhashPairs]]' frame WITHOUT double ownership: an
    * evicting memo releases its frame, so a frame held by two memos
    * could be released under the other (round-9 advice item 4).
    * Exactly one memo owns each persisted frame: pairsMemo the exact
    * graph, minhashMemo the LSH graph.
    */
  private val pairsModeMemo = new graft.AssetMemo[Boolean]

  private def pairsUseLsh(s: SparkSession, d: String): Boolean =
    pairsModeMemo.getOrBuild(s, d) {
      val docs = Tables.documents(s, d)
      val post = sharedPostings(s, d)
      // one df-agg pass: non-hot ≡ df ≤ cap, so the spent scalar
      // needs no hot-set anti-join (the first probe formulation
      // cost a measured ~88 s of the 277 s sf10 build — two extra
      // aggregates + an anti-join over the postings for a number
      // one filtered aggregate produces).
      // Cap in exact INTEGER arithmetic, replicated verbatim by the
      // oracle (greatest(1000, count // 1000)): the earlier
      // count*0.001 binary-double form could differ from DuckDB's
      // exact DECIMAL FLOOR by 1 near exact multiples of 1000 docs,
      // shifting df==cap boundary shingles across the hot cut and —
      // near the 1e9 budget — potentially flipping the engine and
      // the oracle onto DIFFERENT pair-graph branches (round-9
      // advice item 2)
      val cap = math.max(1000L,
        docs.select(count(lit(1))).head().getLong(0) / 1000L)
      val spent = post.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap)
        .agg(coalesce(sum(col("df") * (col("df") - lit(1L))), lit(0L)))
        .head().getLong(0)
      spent > pairsCandidateBudget
    }

  def sharedPairs(s: SparkSession, d: String): DataFrame = {
    // Pair-graph plan selection for the DENSE-decade regime,
    // AUTO-DISPATCHED (round-9: the round-8 env knob was not a
    // design — a 100× deployment that forgot it got the quadratic).
    // The exact inverted-index graph emits Σ df·(df−1) candidate
    // rows, which on a saturated vocabulary grows ~quadratically in
    // corpus size (measured: 2.8e4 → 2.5e6 → 2.5e8 → ~2.5e10 for
    // sf0.01 → sf10; 662 s and 46 GB of agg state at sf10). The
    // dispatcher measures that sum — the EXACT candidate count, one
    // single-row action over the memoized postings — against the
    // absolute [[pairsCandidateBudget]] and takes the lossless index
    // path only when affordable; above budget it switches to the
    // bounded LSH pair graph the catalog already proves as
    // dedup_minhash (D3): linear signatures + output-bounded band
    // join, recall ≈ 0.87 at the J = 0.5 boundary and ≥ 0.999 at
    // J ≥ 0.7, measured 97% pair recall at the sf10 decade. Every
    // downstream closure-family oracle replicates BOTH branches and
    // the selection scalar (guarded UNION on the same Σ df·(df−1),
    // [[MurmurSql.pairGraphChainSql]]), so all 20 consumers stay
    // hash-provable at every scale factor on whichever path the
    // corpus selects.
    val useLsh = pairsUseLsh(s, d)
    lastPairsPlan = if (useLsh) "lsh" else "exact"
    if (useLsh) {
      // loud by design: results built on this graph are ~0.87-recall
      // approximate at the J=0.5 boundary, and a reader of any
      // artifact produced in this mode must be able to tell
      System.err.println(
        s"[graft] sharedPairs($d): candidate budget exceeded — " +
          "serving the LSH (minhash) pair graph, not the exact " +
          "inverted-index graph")
      // serve dedup_minhash's memoized frame — above budget the two
      // are the SAME computation, and a full-catalog run would
      // otherwise pay the band join + verify twice. NOT re-stored in
      // pairsMemo: minhashMemo is the sole owner of that frame.
      sharedMinhashPairs(s, d)
    } else sharedExactPairs(s, d)
  }

  /** The EXACT inverted-index pair graph, unconditionally — never the
    * LSH stand-in, regardless of the candidate budget. This is what
    * [[sharedPairs]] serves below budget; it exists as its own entry
    * point because evaluation entries (lsh_recall) need the lossless
    * baseline BY DEFINITION: under the round-9 auto dispatch, a
    * baseline spelled `sharedPairs` silently became
    * the LSH graph itself precisely at the dense scales the recall
    * metric exists to measure, degenerating recall/precision to a
    * 1.0 self-comparison (round-9 advice item 1). Above budget this is
    * the measured-expensive quadratic (662 s / 46 GB agg state at the
    * dense sf10) — the cost is inherent to a lossless baseline, and the
    * build says so on stderr rather than switching plans.
    */
  def sharedExactPairs(s: SparkSession, d: String): DataFrame =
    pairsMemo.getOrBuild(s, d) {
      if (pairsUseLsh(s, d))
        System.err.println(
          s"[graft] sharedExactPairs($d): corpus is above the pair " +
            "budget — building the EXACT baseline graph anyway " +
            "(recall-harness semantics; expect the quadratic cost)")
      ngramJaccardPairs(Tables.documents(s, d), 0.5,
          postingsSet = Some(sharedPostings(s, d)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The 128-perm/32-band minhash pair graph at J ≥ 0.5 as its own
    * memoized corpus asset: the dedup_minhash catalog entry always
    * reads it, and [[sharedPairs]] reads it too when the candidate
    * budget dispatches to the LSH plan — one band join + verify per
    * corpus snapshot either way.
    */
  private val minhashMemo = new graft.AssetMemo[DataFrame]

  def sharedMinhashPairs(s: SparkSession, d: String): DataFrame =
    minhashMemo.getOrBuild(s, d) {
      minhashPairs(Tables.documents(s, d), 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The corpus POSTINGS as a shared materialized asset, one level
    * below [[sharedPairs]]: the (doc_id, n, shingle) explode is the
    * single corpus tokenization every n-gram dedup entry reads —
    * pair-graph build, containment pairs, the incremental probe, and
    * incremental clustering all slice this table instead of
    * re-tokenizing the corpus per query (and per bench rep). Same
    * production shape as the pair graph: the inverted index is
    * computed once per corpus snapshot and stored; Bench reports the
    * build as its own `shared_postings_build` line.
    */
  private val postingsMemo = new graft.AssetMemo[DataFrame]

  def sharedPostings(s: SparkSession, d: String): DataFrame =
    postingsMemo.getOrBuild(s, d) {
      postings(Tables.documents(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** D70 core — asymmetric CONTAINMENT pairs: C(a ⊆ b) = |Sa ∩ Sb| /
    * |Sa| ≥ threshold flags doc_a's shingle set as (near-)contained in
    * doc_b — the quote/snippet/boilerplate-inclusion case Jaccard
    * misses BY DESIGN: a 50-shingle doc fully embedded in a 5000-
    * shingle doc has containment 1.0 but Jaccard 0.01, and
    * ngramJaccardPairs' size-band prune deliberately drops exactly
    * those size-skewed pairs. The lossless prune is asymmetric:
    * common ≤ nb, so C ≥ t requires nb ≥ t·na. Pairs are DIRECTED
    * (doc_a contained in doc_b); mutual containment emits both
    * directions.
    *
    * BOUNDED BY CONSTRUCTION (round 8): the inverted-index self-join
    * emits exactly Σ df·(df−1) candidate rows, which on a dense df
    * spectrum grows ~quadratically in corpus size (measured here:
    * 28k → 2.5M → 250M for sf0.01 → sf0.1 → sf1 — vocabulary
    * saturates, so every shingle's df scales with the corpus). The
    * dispatcher measures that sum against an ABSOLUTE
    * `candidateBudget` (default 2e7) and takes the lossless index
    * path only when affordable; above budget it switches to the
    * minhash-LSH candidate path ([[containmentPairsLsh]]) whose work
    * is linear signatures + an output-bounded band join. The budget
    * is absolute, so per-pass candidate work no longer scales with
    * corpus size on either path. Both branches and the selection rule
    * itself are replicated exactly by the DuckDB oracle (guarded
    * UNION on the same Σ df·(df−1) scalar), so the entry stays
    * hash-provable at every scale factor.
    */
  def containmentPairs(docs: DataFrame, threshold: Double,
      hotDfFrac: Double = 0.001, minDfCap: Long = 1000L,
      hotSet: Option[DataFrame] = None,
      postingsSet: Option[DataFrame] = None,
      candidateBudget: Long = 20000000L): DataFrame = {
    val ex = coldPostings(docs, hotDfFrac, minDfCap, hotSet, postingsSet)
    // Adaptive plan selection, measured not guessed (the AQE idiom
    // applied at the operator level): Σ df·(df−1) over the non-hot df
    // spectrum IS the exact candidate row count the inverted-index
    // self-join would emit, so compare it against an ABSOLUTE budget
    // and only take that path when it is affordable. One cheap
    // single-row action over the (memoized) postings — the same
    // bounded-collect class as the ranged-pass offset tables.
    val spent = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * (col("df") - lit(1L))), lit(0L)).as("v"))
      .head().getLong(0)
    if (spent <= candidateBudget) containmentPairsExact(ex, threshold)
    else containmentPairsLsh(docs, threshold, filteredPostings = Some(ex))
  }

  /** The lossless inverted-index containment path (sub-budget corpora:
    * every non-hot shared shingle is enumerated; the only approximation
    * is the shared hot-df cap). Candidate rows = Σ df·(df−1), which the
    * dispatcher above has already proven ≤ the absolute budget before
    * this plan runs.
    */
  private def containmentPairsExact(ex: DataFrame, threshold: Double): DataFrame =
    ex.as("a")
      .join(ex.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") =!= col("b.doc_id") &&
        col("b.n") >= col("a.n") * lit(threshold))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"), first(col("a.n")).as("na"))
      .withColumn("containment", col("common") * lit(1.0) / col("na"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))

  /** The bounded containment path for DENSE df spectra, where the
    * inverted index is structurally quadratic: when the vocabulary
    * saturates (sf1 of the synthetic corpus: 29k distinct shingles over
    * 2.6M postings, avg df ≈ 89, max df 148 — far BELOW any useful hot
    * cap), every rarity-based prune fails — a budget df cap keeps only
    * noise (measured: cap 82 → 0 of 14 701 true pairs, because dup
    * families share exactly the df≈95 shingles), and prefix filtering
    * (Bayardo WWW'07; measured round 7, reverted at b7ec2f1^) emits
    * 30M candidates because no doc HAS rare shingles. The signature
    * scheme sidesteps df entirely: 128-perm minhash, 64 bands × 2 rows
    * — P(candidate) = 1−(1−J²)⁶⁴, recall ≥ 0.998 at J ≥ 0.3 — then
    * EXACT containment verification on candidates only, both directions
    * of each unordered candidate (containment is asymmetric). Work is
    * signatures (linear, the dedup_minhash cost) + an output-bounded
    * band join: random docs here share ~0.17 shingles (J ≈ 1e-3), so
    * buckets hold only true dup families.
    *
    * Documented recall trade: for C(a⊆b) ≥ t with size ratio
    * R = nb/na, J ≥ t/(R+1−t), so recall ≈ 1 for near-symmetric pairs
    * (R ≤ 2 ⇒ J ≥ 0.36 ⇒ ≥ 0.997) but decays for extreme
    * snippet-in-document asymmetry (R = 5 ⇒ J ≥ 0.15 ⇒ ≈ 0.78;
    * R = 10 ⇒ ≈ 0.32). A deployment needing deep-asymmetric recall at
    * dense scale partitions the large side by size decade and re-bands
    * per decade (LSH Ensemble, Zhu et al. VLDB'16) — the sub-budget
    * exact path remains lossless and is always taken when affordable.
    */
  /** Shared candidate expansion for the banded LSH joins: ONE shuffle
    * of the (doc_id, band, k1, k2) table, each bucket materialized as
    * a sorted id list, buckets above `bandCap` dropped (the absolute
    * cap — scaladoc at minhashPairs), then the i<j pairs emitted per
    * bucket by a bounded higher-order expansion. This replaces the
    * count → join-back → band self-join formulation, which (a) consumed
    * `banded` twice, re-computing the minhash signatures per consumer,
    * and (b) handed the planner a same-key join over the full banded
    * table — measured Java-heap OOM at the round-8 sf10 probe (48 g
    * heap, 32 threads, stage-240 shuffle read). Here per-bucket state
    * is ≤ cap ids and per-bucket output ≤ C(cap,2) pairs, so task
    * memory is O(cap²) regardless of corpus size — the property the
    * cap was introduced to guarantee now holds for the physical plan,
    * not just the candidate count.
    */
  private def bandedCappedPairs(banded: DataFrame, bandCap: Long): DataFrame =
    banded.groupBy("band", "k1", "k2")
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= lit(bandCap))
      .select(explode(flatten(transform(col("ids"),
        (a, i) => transform(
          filter(col("ids"), (_, j) => j > i),
          b => struct(a.as("a"), b.as("b")))))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()

  /** Packs two signature values into ONE signed-64 band-key column via
    * `(a mod 2³² − 2³¹)·2³² + (b mod 2³²)` — an exact bijection of the
    * low-32 parts onto the signed-long range, every intermediate
    * provably inside [−2⁶³, 2⁶³) (ANSI-safe; same bound argument holds
    * for DuckDB's checked BIGINT ops, where the oracle computes the
    * IDENTICAL expression). Why not group on the raw slice array: the
    * round-9 first cut did, and array keys pushed the aggregation and
    * exchange off the primitive-key fast path — measured +1 185 CPU-s
    * (1.8×) on the sf10 pair build. Why not Spark's `hash(slice)`: an
    * engine-private hash the oracle cannot replicate, whose collisions
    * therefore DIVERGE the two sides' cap decisions (the round-8
    * advice item). Here a (vanishingly rare) low-32 collision merges
    * the same two buckets on BOTH engines — consistent by
    * construction. Plain 128-perm minhash values are < 2³⁹, so the
    * mod discards only the top 7 bits; the wrap32 variant's values
    * are already < 2³², making the packing lossless there.
    */
  private def packedKey(a: Column, b: Column): Column =
    (pmod(a, lit(4294967296L)) - lit(2147483648L)) * lit(4294967296L) +
      pmod(b, lit(4294967296L))

  /** Window-mass budget for the containment window grid, and
    * the stride ladder that enforces it (round-10 verdict item 6): the
    * un-trimmed sf10 verify spilled past 55 GB of disk and zipf10's
    * long sparse docs spilled the first 64-band window cut — the
    * round-10 trims fixed the MEASURED shapes, but nothing guarded a
    * new corpus (very long docs × high window count) from re-spilling.
    * The guard is a pre-flight estimate of the total window count
    * Σ_docs (⌊max(tokens−32,0)/stride⌋+1) at the base stride — one
    * cheap token-count scan — and a deterministic ladder that doubles
    * the stride (16 → 32 → 64 → 128 → 256) until the estimated mass
    * fits the budget, logged loudly. Integer-exact and replicated by
    * the oracle (cwmass/cwst CTEs), so the two engines always pick the
    * same stride and the entry stays hash-provable on any corpus
    * shape. Strides above WindowTokens sample the doc with gaps —
    * degraded contiguous-containment recall, the documented trade for
    * bounded disk; the exact sub-budget path is always lossless. The
    * oracle SQL interpolates this same constant, so both engines pick
    * the same stride.
    */
  private[graft] val defaultWindowMassBudget: Long = 20000000L

  /** Smallest ladder stride whose estimated window mass fits `budget`:
    * estimated mass at stride s is (massBase − nDocs)·base/s + nDocs
    * (each doc keeps its +1 window), compared in exact integers.
    */
  private[graft] def windowStrideFor(massBase: Long, nDocs: Long,
      base: Int, budget: Long): Int =
    Seq(1L, 2L, 4L, 8L).map(m => (base * m).toInt)
      .find(s => (massBase - nDocs) * base <= (budget - nDocs) * s)
      .getOrElse(base * 16)

  /** The window-grid stride a containment run over `docs` uses: the
    * pre-flight disk-budget guard (see defaultWindowMassBudget). One
    * token-count scan estimates the window mass at the base stride; the
    * deterministic ladder ([[windowStrideFor]]) doubles the stride until
    * the estimate fits, and the oracle replicates the identical mass
    * scalar + CASE ladder (cwmass/cwst).
    */
  private[graft] def windowStrideOf(docs: DataFrame, windowStride: Int,
      windowMassBudget: Long): Int = {
    val mrow = docs
      .select(size(split(trim(col("text")), "\\s+")).as("l"))
      .filter(col("l") >= 3)
      .agg(coalesce(sum(
        (greatest(col("l") - lit(WindowTokens), lit(0))
          / lit(windowStride)).cast("long") + 1L), lit(0L)).as("m"),
        count(lit(1)).as("d"))
      .head()
    val strideSel = windowStrideFor(mrow.getLong(0), mrow.getLong(1),
      windowStride, windowMassBudget)
    if (strideSel != windowStride)
      System.err.println(s"[graft] containment window-grid: " +
        s"estimated window mass ${mrow.getLong(0)} over " +
        s"${mrow.getLong(1)} docs exceeds budget $windowMassBudget " +
        s"at stride $windowStride — DEGRADING stride to $strideSel " +
        s"(deep-containment recall is reduced" +
        (if (strideSel > WindowTokens) "; stride exceeds the window " +
          "width, coverage is now gappy-sampled" else "") + ")")
    strideSel
  }

  /** containmentPairsLsh's band geometry: `ContainBands` 2-row bands
    * of the doc signature; the window grid cuts `WindowTokens`-token
    * windows, bands their signatures into `WindowBands` bands and caps
    * window buckets at `WindowBandCap` docs (see the notes in the body).
    * 32 window bands, not the doc-level 64: per-window detection at the
    * worst-case alignment J ~ 0.33 is still 0.975 (1-(1-J^2)^32) and
    * most snippets span >= 2 windows, while the banded-table volume
    * halves - long sparse docs (zipf10: ~14 windows/doc x 510k docs)
    * spilled the 64-band table past the bench host's disk.
    */
  final val ContainBands = 64
  final val WindowTokens = 32
  final val WindowBands = 32
  final val WindowBandCap = 64L

  def containmentPairsLsh(docs: DataFrame, threshold: Double,
      filteredPostings: Option[DataFrame] = None,
      windowStride: Int = 16,
      windowMassBudget: Long = defaultWindowMassBudget): DataFrame = {
    val rows = MinhashHashes / ContainBands
    // Verification reads HOT-FILTERED shingle sets so both branches
    // agree on what "common" counts (round-8 advice item): the exact
    // branch counts common over hot-filtered postings, so verifying
    // candidates with the FULL arrays here would shift containment
    // values — and the qualifying pair set — discontinuously when the
    // budget flips the branch. `n` stays the PRE-cap count (the shared
    // denominator contract). One doc_id-keyed re-collect of the
    // filtered postings — linear, and the postings are memoized.
    val exf = filteredPostings.getOrElse {
      val exAll = postings(docs)
      exAll.join(hotShingles(docs, postingsSet = Some(exAll)),
        Seq("s"), "left_anti")
    }
    val shf = exf.groupBy("doc_id")
      .agg(collect_list(col("s")).as("shf"), first(col("n")).as("n"))
    // empty shingle sets (<3 tokens) minhash to the all-MaxValue
    // sentinel and would collide in every band (see bandProfile)
    val sh = withShingles(docs).filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"))
    // wrap32 variant: the unwrapped h1+i·h2 signature correlates all
    // bands for small shingle sets (line-envelope argmin, see
    // MinHashSignature scaladoc) — measured 85/14701 missed pairs at
    // sf1 before the wrap, 0 expected after
    val sig = sh.select(col("doc_id"),
      HashOps.minhashW32(col("shingles"), MinhashHashes).as("sig"))
    // packed band key, same reasoning as minhashPairs (see packedKey);
    // the 2-row bands pack LOSSLESSLY into k1 (wrap32 values < 2³²),
    // k2 pinned to 0
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(ContainBands - 1)), b =>
        packedKey(element_at(col("sig"), b * lit(rows) + 1),
          element_at(col("sig"), b * lit(rows) + 2)))))
      .withColumnRenamed("pos", "band")
      .select(col("doc_id"), col("band"), col("col").as("k1"),
        lit(0L).as("k2"))
    // same absolute band-bucket cap as minhashPairs (see its scaladoc):
    // the 2-row bands here collide even more readily on a small shingle
    // universe (measured 19.1M candidates at sf10, max bucket 456);
    // sf1's max bucket is 105, so every committed proof is unchanged.
    // Same one-shuffle per-bucket expansion as minhashPairs (see the
    // memory note there — the count+join-back formulation OOM'd at sf10).
    val candDoc = bandedCappedPairs(banded, BandCap)
    // WINDOW-GRID deep-asymmetry candidates (round-10; RECALL_SF10
    // measured the doc-level signatures at 0.38 recall for size ratio
    // R ≥ 7 — minhash over the LARGE side's full set is dominated by
    // its non-shared content, exactly the J ≥ t/(R+1−t) decay the
    // scaladoc predicted). Every doc's token stream is cut into
    // 32-token windows at stride 16 and the windows are minhashed with
    // the same wrap32 chain but banded 32 bands × 2-of-4-row keys (see
    // windowBanded — NOT the doc-level 64×2; the halved band count is
    // the zipf10 long-doc volume trim): a contained snippet's tokens
    // line up with some window of the container at worst-case alignment
    // J ≈ 0.33 (per-window detection ≈ 0.975 at 32 2-row bands, and
    // most snippets span ≥ 2 windows), so
    // deep CONTIGUOUS containment — the quote/boilerplate-inclusion
    // case the operator exists for — is caught at ANY size ratio.
    // Measured (planted concatenation parents, RECALL_SF10.json):
    // R ≥ 7 recall 0.38 → 1.0. Scattered deep containment (shingles
    // strewn non-contiguously through a 10× larger doc) remains the
    // documented residual; the sub-budget exact path is lossless for
    // it. Cost is a second signature pass over ~2× the shingle volume
    // (windows overlap by half), linear like the first. Candidates
    // from both schemes are unioned before the one exact verify;
    // bucket membership is per DISTINCT doc (several windows of one
    // doc in a bucket count once, and intra-doc collisions can't
    // produce a pair). The DuckDB oracle replicates the geometry
    // (32-token windows at the default stride 16) exactly.
    // Window buckets cap at 64 (not the doc-level 256) and window
    // candidates keep only SIZE-SKEWED pairs (max(n) >= 2*min(n)):
    // same-scale window collisions are boilerplate noise the doc-level
    // banding already covers at measured ~1.0 recall for R < 2, and
    // without the two trims the tripled verify volume spilled the sf10
    // probe past 55 GB of disk. Both trims are replicated exactly in
    // the oracle (cwcap HAVING <= 64; the cshf size filter on wcand).
    val strideSel = windowStrideOf(docs, windowStride, windowMassBudget)
    val sz = shf.select(col("doc_id"), col("n"))
    val candWin = bandedCappedPairs(windowBanded(docs, strideSel),
        WindowBandCap)
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("wna")),
        "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("wnb")),
        "doc_b")
      .filter(greatest(col("wna"), col("wnb"))
        >= least(col("wna"), col("wnb")) * lit(2))
      .select("doc_a", "doc_b")
    val cand = candDoc.union(candWin).distinct()
      .select(col("doc_a").as("x"), col("doc_b").as("y"))
    val dir = cand.select(col("x").as("doc_a"), col("y").as("doc_b"))
      .union(cand.select(col("y").as("doc_a"), col("x").as("doc_b")))
    dir
      .join(shf.select(col("doc_id").as("doc_a"), col("shf").as("sh_a"),
        col("n").as("na")), "doc_a")
      .join(shf.select(col("doc_id").as("doc_b"), col("shf").as("sh_b"),
        col("n").as("nb")), "doc_b")
      .filter(col("nb") >= col("na") * lit(threshold))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("containment", col("common") * lit(1.0) / col("na"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** D41 core — INCREMENTAL near-dup probe: an arriving batch checked
    * against an already-indexed base corpus, the way a 100 TB pipeline
    * actually runs dedup (re-pairing the whole corpus per batch would
    * be quadratic in ingest rounds). The base side's inverted index and
    * its document-frequency stats are the precomputed state — the hot
    * cap comes from BASE df only, so probe cost never depends on batch
    * composition. One shuffle on the shingle key joins batch postings
    * against base postings; pairs are verified with exact Jaccard.
    */
  def ngramJaccardProbe(base: DataFrame, incoming: DataFrame,
      threshold: Double, hotDfFrac: Double = 0.001,
      minDfCap: Long = 1000L, hotSet: Option[DataFrame] = None,
      basePostings: Option[DataFrame] = None,
      incomingPostings: Option[DataFrame] = None): DataFrame = {
    val idx = coldPostings(base, hotDfFrac, minDfCap, hotSet, basePostings)
    val probe = incomingPostings.getOrElse(postings(incoming))
    jaccardVerified(idx, probe, col("a.s") === col("b.s"), threshold)
  }

  /** Width of every minhash signature in this module (minhashPairs,
    * bandProfile and both containment signatures), the 4-row band
    * count of minhashPairs and bandProfile, and the absolute
    * band-bucket cap (see minhashPairs' body).
    */
  final val MinhashHashes = 128
  final val MinhashBands = 32
  final val BandCap = 256L

  /** D3 — MinHash+LSH candidate pairs, then exact-Jaccard verification.
    * 128-hash signatures, 32 bands × 4 rows: P(candidate) ≈
    * 1-(1-j⁴)³² — ~0.87 at j=0.5, ~1.0 at j≥0.8. Verification joins
    * the shingle arrays back only for candidates.
    */
  def minhashPairs(docs: DataFrame, threshold: Double,
      bandCap: Long = BandCap): DataFrame = {
    val rows = MinhashHashes / MinhashBands
    val sh = withShingles(docs).select(col("doc_id"), col("shingles"))
    val sig = sh.withColumn("sig", HashOps.minhash(col("shingles"), MinhashHashes))
    // band key = the two PACKED low-32 pair columns (see packedKey),
    // not Spark's hash(slice): the oracle computes the identical
    // integer expression, so a key collision merges the same buckets
    // on both engines and the bandCap decision can never diverge
    // (round-8 advice item) — while the keys stay primitive longs on
    // the aggregation fast path
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(MinhashBands - 1)), b =>
        struct(
          packedKey(element_at(col("sig"), b * lit(rows) + 1),
            element_at(col("sig"), b * lit(rows) + 2)).as("k1"),
          packedKey(element_at(col("sig"), b * lit(rows) + 3),
            element_at(col("sig"), b * lit(rows) + 4)).as("k2")))))
      .withColumnRenamed("pos", "band")
      .select(col("doc_id"), col("band"),
        col("col.k1").as("k1"), col("col.k2").as("k2"))
    // ABSOLUTE band-bucket cap (round-8 sf10 finding): on a
    // small-universe corpus the globally-minimal-hash shingles appear
    // in a large fraction of docs, so band buckets fill with UNRELATED
    // docs that happen to contain them — bucket membership is driven
    // by the shared vocabulary, not pairwise Jaccard, and the band
    // join's candidate mass grows quadratically in n at fixed
    // vocabulary (measured: 32.3M candidates at sf1 → 687M at sf10,
    // 93% from buckets > 100 docs whose members' snippets share no
    // provenance). Dropping buckets larger than an absolute cap is
    // the band-space mirror of the hot-shingle df cap: per-bucket
    // work becomes O(cap²), total candidates O(n_buckets·cap²) =
    // linear in corpus. Recall trade: a true pair in a dropped bucket
    // still collides in its other bands (P ≥ 1−(1−J^r)^(bands−1) ≈
    // 0.86 at J = 0.5), and at every committed proof SF the cap never
    // engages (max bucket 116 at sf1 < 256), so sf0.01–sf1 results
    // are bit-identical. The oracle replicates the cap, keeping the
    // entry hash-provable at any scale on either side of it.
    val cand = bandedCappedPairs(banded, bandCap)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))) * lit(1.0) /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** D91 core — per-band bucket-size statistics of the 128-perm /
    * 32-band minhash LSH. Buckets are keyed by the raw signature slice
    * (the same equality the candidate join uses), so the profile
    * predicts the join's work exactly: `cand_pairs` is the per-band
    * candidate yield before dedup across bands.
    */
  def bandProfile(docs: DataFrame): DataFrame = {
    val rows = MinhashHashes / MinhashBands
    // drop docs with no shingles (<3 tokens): their empty sets all
    // minhash to the same all-MaxValue sentinel signature, which would
    // collide them in EVERY band as fake bucket mass — and the oracle's
    // signature chain (len(t) >= 3) never sees them
    val sig = withShingles(docs)
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"),
        HashOps.minhash(col("shingles"), MinhashHashes).as("sig"))
    val banded = sig.select(
      posexplode(transform(sequence(lit(0), lit(MinhashBands - 1)),
        b => slice(col("sig"), b * lit(rows) + 1, lit(rows)))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
    banded.groupBy("band", "bkey").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        max("sz").as("max_bucket"),
        sum(when(col("sz") > 1, col("sz")).otherwise(lit(0L)))
          .as("n_collided"),
        sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"))
      .orderBy("band")
  }

  /** The WINDOW-GRID banded table behind containmentPairsLsh's
    * deep-asymmetry candidates: every doc's token stream cut into
    * `WindowTokens`-token windows at `windowStride`, each window
    * shingled and minhashed (wrap32) like a document, banded 2-row
    * into `WindowBands` bands, and reduced to DISTINCT (doc, band,
    * key) rows — several windows of one doc in a bucket count once.
    */
  private def windowBanded(docs: DataFrame, windowStride: Int): DataFrame = {
    val rows = MinhashHashes / WindowBands
    val tok = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 3)
    val nWinTop = (greatest(size(col("t")) - lit(WindowTokens), lit(0))
      / lit(windowStride)).cast("int")
    val wins = tok.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nWinTop), i =>
          concat_ws(" ",
            slice(col("t"), i * lit(windowStride) + 1,
              lit(WindowTokens))))))
      .select(col("doc_id"), col("col").as("wtext"))
    val wsh = withShingles(wins.withColumnRenamed("wtext", "text"))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"))
    val wsig = wsh.select(col("doc_id"),
      HashOps.minhashW32(col("shingles"), MinhashHashes).as("sig"))
    wsig.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(WindowBands - 1)), b =>
          packedKey(element_at(col("sig"), b * lit(rows) + 1),
            element_at(col("sig"), b * lit(rows) + 2)))))
      .withColumnRenamed("pos", "band")
      .select(col("doc_id"), col("band"), col("col").as("k1"),
        lit(0L).as("k2"))
      .distinct()
  }

  /** Hamming radius of [[simhashPairs]]; 4 bands of 16 bits guarantee
    * that every pair within it shares an intact band.
    */
  final val SimhashMaxHamming = 3

  /** D4 — SimHash near-dup: 64-bit signature, 4 bands of 16 bits for
    * candidate generation (any pair within hamming distance 3 shares at
    * least one intact band), verified with bit_count(xor) ≤
    * `SimhashMaxHamming`.
    */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val sig = docs
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), HashOps.simhash(col("toks")).as("sig"))
    val banded = sig.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** D5 core — embedding near-dup within a blocking key. BOUNDED BY
    * CONSTRUCTION (round-8 sf10 probe finding): label blocks GROW with
    * the corpus (sf1: 2k vectors/label; sf10: 20k → the exact
    * label-blocked self-join is ~2e9 pairs ≈ 1 TB of shuffle — it
    * filled the probe host's disk, not merely ran slow). The
    * dispatcher measures Σ n·(n−1) over label blocks against an
    * absolute `pairBudget` (default 1e8 — every committed SF stays on
    * the lossless exact plan) and above it switches to hyperplane-LSH
    * blocking WITHIN label ([[embeddingPairsLsh]]): the 32-bit
    * signature knn_lsh already proves bit-exact, sliced as 4 tables ×
    * 8 bits — P(table collision) = (1−θ/π)⁸, recall at cos ≥ 0.99
    * (θ ≈ 8.1°) = 1−(1−0.955⁸)⁴ ≈ 0.991, random-pair floor 4/256 per
    * pair. Candidates get exact-cosine verification, so precision
    * stays 1. The DuckDB oracle replicates both branches and the
    * selection scalar (guarded UNION, the containment_pairs pattern).
    */
  /** Gate corpus for dedup_embedding: the raw embeddings plus ONE
    * perturbed copy of every 7th vector (copy id −(vec_id+1), same
    * label, dim-0 scaled by 1.02 + 0.001 in double then rounded back
    * to float). The synthetic embeddings are near-orthogonal (max
    * within-label cosine ≈ 0.47 at sf0.01), so a 0.99-threshold
    * near-dup query over the raw table is provably EMPTY at every SF —
    * a hash match of two empty results exercises schema and dispatch
    * but not the cosine/verify/rounding pipeline. The copies give the
    * gate ~n/7 true pairs (cos ≈ 0.9998, far from the 0.99 boundary
    * and from the 4 dp rounding grid) while adding no cross-original
    * pairs (copy-vs-other cosine tracks the ≤ 0.47 original spread).
    * Float exactness: both engines compute dim0' = float(double(x) ·
    * 1.02 + 0.001) — identical IEEE double ops + one round-to-float —
    * so the seeded corpora are bit-identical, the same discipline as
    * the phash_image fixture formula.
    */
  def seededEmbeddings(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), col("label"), col("embedding"))
    // copy id = −(vec_id+1): a bijection onto the NEGATIVE ids, which no
    // corpus generator emits — the round-8 +1e8 offset COLLIDED with
    // GenScale's ×1e8 copy-id stride at sf10 (id 0's seeded copy = 1e8 =
    // GenScale copy 1 of vector 0), and two different vectors sharing a
    // vec_id corrupted the oracle's per-id signature GROUP BY while the
    // engine signed per row — the first real divergence
    // evidence/decade/CORRECTNESS_SF10.json caught (engine 121k pairs
    // vs oracle 52k)
    val copies = base.filter(pmod(col("vec_id"), lit(7L)) === 0L)
      .select((-col("vec_id") - lit(1L)).as("vec_id"), col("label"),
        transform(col("embedding"), (x, i) =>
          when(i === lit(0),
            (x.cast("double") * lit(1.02) + lit(0.001)).cast("float"))
            .otherwise(x)).as("embedding"))
    base.unionByName(copies)
  }

  /** The (tables, bitsPerTable) ladder for the LSH branch: bucket
    * count per table is 2^bits, so at FIXED layout the buckets fill
    * linearly with the corpus and the bucket joins go quadratic —
    * measured 2.1 s at sf1 → 79 s at sf10 (round-8 full-catalog
    * probe) at the (4, 8) layout. The ladder widens the bucket key
    * (trading tables for bits inside the same 32-plane signature:
    * 4×8 → 2×16 → 1×32) until the EXPECTED candidate mass
    * tables·spent/2^bits fits an absolute budget — integer
    * comparisons only, replicated verbatim by the oracle. Recall at
    * cos ≥ 0.99 by the hyperplane argument (P(bit) ≈ 0.955):
    * ≈ 0.99 at 4×8, ≈ 0.73 at 2×16, ≈ 0.23 at 1×32 — the documented
    * LSH dial; a deployment needing high recall at the widest rung
    * raises the signature width instead (more planes), which this
    * corpus's gate never needs: sf1 selects the (4, 8) rung, sf10
    * selects (2, 16).
    */
  private val lshLadder: Seq[(Int, Int)] = Seq((4, 8), (2, 16), (1, 32))

  /** Expected-candidate budget the ladder's rung must fit. */
  final val LshBucketBudget = 20000000L

  def embeddingPairs(emb: DataFrame, threshold: Double,
      pairBudget: Long = 100000000L): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"), col("embedding"))
    val spent = e.groupBy("label").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - lit(1L))), lit(0L)).as("v"))
      .head().getLong(0)
    if (spent <= pairBudget) embeddingPairsExact(e, threshold)
    else {
      val (tables, bits) = lshLadder
        .find { case (t, b) =>
          // tables·spent/2^bits ≤ budget, in overflow-safe integers
          spent / (1L << b) <= LshBucketBudget / t
        }
        .getOrElse(lshLadder.last)
      embeddingPairsLsh(e, threshold, tables, bits)
    }
  }

  private def embeddingPairsExact(e: DataFrame, threshold: Double): DataFrame =
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        VectorOps.cosine(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos"), 4).as("cosine"))

  /** The bounded branch: hyperplane-LSH buckets within each label
    * (4 tables × 8 bits of the proven 32-plane signature), exact
    * cosine verification on distinct candidates only. Work = linear
    * signatures + output-bounded bucket joins; the random-pair
    * candidate floor is n_block²·4/256 — tune bits-per-table up at
    * larger block sizes (documented trade, same dial as knn_lsh).
    */
  def embeddingPairsLsh(e: DataFrame, threshold: Double,
      tables: Int, bitsPerTable: Int): DataFrame = {
    // sig cast to long BEFORE shift/mask: at the 1×32 ladder rung the
    // mask (2³²−1) does not fit an Int, and the long arithmetic is
    // what the oracle's BIGINT expressions replicate bit-for-bit
    val sig = e.select(col("vec_id"), col("label"),
      HashOps.hyperplaneSig(col("embedding")).cast("long").as("sig"))
    val bandCols = array((0 until tables).map(t =>
      shiftright(col("sig"), t * bitsPerTable)
        .bitwiseAND(lit((1L << bitsPerTable) - 1L))): _*)
    val banded = sig.select(col("vec_id"), col("label"), posexplode(bandCols))
      .withColumnRenamed("pos", "t")
      .withColumnRenamed("col", "bkey")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.label") === col("b.label") && col("a.t") === col("b.t") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("cos", VectorOps.cosine(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cosine"))
  }

  /** DuckDB-side replica of `HashOps.SimHash64` — murmur3_32
    * (scala.util.hashing.MurmurHash3.bytesHash, bit-exact: body fold via
    * list_reduce, tail mix, finalizer; 32-bit wraparound through HUGEINT
    * intermediates) over each distinct token, bit votes weighted by
    * occurrence count, signed-64 signature assembly. Docs are ASCII at
    * every test SF so ord(tok[i]) equals the Scala byte walk.
    *
    * This makes dedup_simhash fully oracle-checkable: the 4×16-bit
    * banding guarantees every hamming≤3 pair is a candidate, so the
    * operator's output is exactly "all pairs with hamming(sig) ≤ 3" —
    * reproducible once the signature is.
    */
  private[graft] object MurmurSql {
    /** DuckDB-side exact-double cosine (matches the Spark expression's
      * arithmetic order bit-for-bit; the builtin list_cosine_similarity
      * accumulates in float32 and diverges at ~1e-7). Callers in Dedup,
      * Knn and Quantize call it here directly.
      *
      * Initialization order: MurmurSql's initializer is self-contained
      * and never calls into the outer object. A MurmurSql-first load
      * order (first external touch being e.g. `MurmurSql.sqlMinhashSql`)
      * would otherwise re-enter Dedup's constructor mid-MurmurSql-init,
      * and the outer `defs` would capture the not-yet-assigned MurmurSql
      * vals as null (observed round 8: dedup_simhash/dedup_embedding
      * oracles went null when an unrelated edit changed which symbol
      * touched Dedup first; CatalogSpec now rejects an oracle holding
      * `null`). So every fragment here is a `def`, or a `val` defined
      * before the vals that read it, and the outer `defs` is lazy.
      */
    private[graft] def duckCosine(a: String, b: String): String =
      s"""(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
         |    * sqrt(list_sum(list_transform(range(1, 65), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin

    private def castB(e: String) = s"CAST($e AS BIGINT)"
    private def mulMod(e: String, c: String) =
      castB(s"((CAST($e AS HUGEINT) * $c) % 4294967296)")
    private def rotl(e: String, r: Int) =
      s"((($e) * ${1L << r}) % 4294967296 + ($e) // ${1L << (32 - r)})"
    private def k3(kraw: String) =
      mulMod(rotl(mulMod(kraw, "3432918353"), 15), "461845907")
    private def mixh(h: String, kr: String) =
      s"((${rotl(s"xor($h, ${k3(kr)})", 13)}) * 5 % 4294967296 + 3864292196) % 4294967296"
    private def mm32(seed: Long): String = {
      val body =
        s"list_reduce(list_prepend(${castB(seed.toString)}, chunks), (h, kr) -> ${mixh("h", "kr")})"
      val tailK = "(CASE WHEN n%4 >= 1 THEN bl[(n//4)*4+1] ELSE 0 END" +
        " + CASE WHEN n%4 >= 2 THEN bl[(n//4)*4+2]*256 ELSE 0 END" +
        " + CASE WHEN n%4 = 3 THEN bl[(n//4)*4+3]*65536 ELSE 0 END)"
      val ht = s"CASE WHEN n%4 = 0 THEN $body ELSE xor($body, ${k3(tailK)}) END"
      s"xor($ht, n)"
    }

    /** Shared finalizer stages: mm32 body+tail (h0) through the two
      * fmix multiply-xor rounds, producing UNSIGNED 32-bit columns
      * `ua`/`ub` for the two seeds over a CTE named `c` exposing
      * (doc_id, carry..., bl, n, chunks).
      */
    private def fmixStagesP(p: String, carry: String): String =
      s"""${p}h0 AS (SELECT doc_id, $carry ${mm32(0x9747b28cL)} AS f0a,
                        ${mm32(0x85ebca6bL)} AS f0b FROM ${p}c),
          ${p}h1 AS (SELECT doc_id, $carry xor(f0a, f0a//65536) AS f1a,
                        xor(f0b, f0b//65536) AS f1b FROM ${p}h0),
          ${p}h2 AS (SELECT doc_id, $carry ${mulMod("f1a", "2246822507")} AS f2a,
                        ${mulMod("f1b", "2246822507")} AS f2b FROM ${p}h1),
          ${p}h3 AS (SELECT doc_id, $carry xor(f2a, f2a//8192) AS f3a,
                        xor(f2b, f2b//8192) AS f3b FROM ${p}h2),
          ${p}h4 AS (SELECT doc_id, $carry ${mulMod("f3a", "3266489909")} AS f4a,
                        ${mulMod("f3b", "3266489909")} AS f4b FROM ${p}h3),
          ${p}hh AS (SELECT doc_id, $carry xor(f4a, f4a//65536) AS ua,
                        xor(f4b, f4b//65536) AS ub FROM ${p}h4)"""

    private def fmixStages(carry: String): String = fmixStagesP("", carry)

    /** Byte/chunk prep for a token column `tok` in CTE `src`. */
    private def tokPrepP(p: String, src: String, carry: String): String =
      s"""${p}b AS (SELECT doc_id, $carry
            [ord(tok[i]) for i in range(1, length(tok)+1)] AS bl,
            length(tok) AS n FROM $src),
          ${p}c AS (SELECT doc_id, $carry bl, n,
            list_transform(range(0, n//4), i ->
              bl[4*i+1] + bl[4*i+2]*256 + bl[4*i+3]*65536 + bl[4*i+4]*16777216)
              AS chunks
            FROM ${p}b)"""

    private def tokPrep(src: String, carry: String): String =
      tokPrepP("", src, carry)

    /** Simhash signature assembly over a murmur chain `src` carrying
      * (doc_id, cnt, ua, ub): `bits`, the count-weighted vote per
      * signature bit, then `sig(doc_id, s)`, the signed-64 signature.
      */
    private def simhashSigSql(src: String): String =
      s"""bits AS (
            SELECT doc_id, b,
                   sum(cnt * CASE WHEN (CASE WHEN b < 32 THEN (ub >> b) & 1
                                         ELSE (ua >> (b - 32)) & 1 END) = 1
                                  THEN 1 ELSE -1 END) AS votes
            FROM $src, unnest(range(0, 64)) AS u(b)
            GROUP BY 1, 2),
          sig AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN votes > 0 AND b < 63
                                 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                        - CASE WHEN max(CASE WHEN b = 63 AND votes > 0
                                        THEN 1 ELSE 0 END) = 1
                               THEN 9223372036854775808 ELSE 0 END AS BIGINT) AS s
            FROM bits GROUP BY 1)"""

    /** sql_minhash oracle: per-doc distinct-shingle count, first
      * minhash value (= min seed-A murmur over shingles, since
      * permutation 0 is `h1 + 0·h2`), and the 64-bit simhash — two
      * murmur chains (shingle-keyed `s`-prefix, token-keyed `t`-prefix)
      * in one statement.
      */
    val sqlMinhashSql: String =
      s"""WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents),
          sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in range(1, len(t) - 1)]) AS shingles
            FROM toks),
          shex AS (SELECT doc_id, unnest(shingles) AS tok FROM sh),
          ${tokPrepP("s", "shex", "")},
          ${fmixStagesP("s", "")},
          mh AS (SELECT doc_id, min(ua) AS mh0 FROM shh GROUP BY doc_id),
          tt AS (SELECT doc_id, unnest(t) AS tok FROM toks),
          ttc AS (SELECT doc_id, tok, count(*) AS cnt FROM tt GROUP BY 1, 2),
          ${tokPrepP("t", "ttc", "cnt,")},
          ${fmixStagesP("t", "cnt,")},
          ${simhashSigSql("thh")}
          SELECT sh.doc_id,
                 CAST(len(sh.shingles) AS INT) AS n_shingles,
                 COALESCE(mh.mh0, 9223372036854775807) AS mh0,
                 sig.s AS sh
          FROM sh
          LEFT JOIN mh ON mh.doc_id = sh.doc_id
          JOIN sig ON sig.doc_id = sh.doc_id
          ORDER BY sh.doc_id"""

    /** dedup_minhash oracle: murmur3-exact 128-perm minhash signatures
      * (Carter–Wegman `h1 + i·h2` over the two seeds), candidate pairs
      * via 32-band × 4-row SLICE equality (band-hash equality in Spark
      * ⟺ slice equality, collisions aside), exact-Jaccard verify on
      * the shingle sets — the whole operator, reproduced in SQL.
      */
    /** Shared CTE chain for the minhash family: murmur3-exact 128-perm
      * signatures through the 32-band slice explode (CTEs `sh`, `sig`,
      * `bands`). Both the pair oracle and the band-profile oracle
      * continue from `bands`.
      */
    private val minhashSigBandsSql: String =
      s"""WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents),
          sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in range(1, len(t) - 1)]) AS shingles
            FROM toks WHERE len(t) >= 3),
          ex AS (SELECT doc_id, unnest(shingles) AS tok FROM sh),
          ${tokPrep("ex", "tok,")},
          ${fmixStages("")},
          uls AS (SELECT doc_id, list([ua, ub | 1]) AS ul FROM hh GROUP BY doc_id),
          sig AS (SELECT doc_id,
            list_transform(range(0, $MinhashHashes), i ->
              list_min(list_transform(ul, p -> p[1] + i*p[2]))) AS s
            FROM uls),
          bands AS (SELECT doc_id, bnd, s[4*bnd+1:4*bnd+4] AS bkey
            FROM sig, unnest(range(0, $MinhashBands)) AS u(bnd))"""

    val minhashPairsSql: String =
      s"""$minhashSigBandsSql,
          bpk AS (SELECT doc_id, bnd,
              (bkey[1] % 4294967296 - 2147483648) * 4294967296
                + bkey[2] % 4294967296 AS k1,
              (bkey[3] % 4294967296 - 2147483648) * 4294967296
                + bkey[4] % 4294967296 AS k2
            FROM bands),
          bcap AS (SELECT bnd, k1, k2 FROM bpk
                   GROUP BY bnd, k1, k2 HAVING count(*) <= $BandCap),
          bandsk AS (SELECT b.doc_id, b.bnd, b.k1, b.k2
                     FROM bpk b JOIN bcap USING (bnd, k1, k2)),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bandsk a JOIN bandsk b
              ON a.bnd = b.bnd AND a.k1 = b.k1 AND a.k2 = b.k2
                 AND a.doc_id < b.doc_id),
          verified AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(sa.shingles, sb.shingles)) * 1.0
                     / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                     AS j
            FROM cand
            JOIN sh sa ON sa.doc_id = doc_a
            JOIN sh sb ON sb.doc_id = doc_b)
          SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM verified
          WHERE j >= 0.5 ORDER BY doc_a, doc_b"""

    /** THE shared near-dup pair-graph oracle fragment: a WITH-chain
      * (no `WITH` keyword) ending in CTE `pairs(doc_a, doc_b, jaccard)`
      * that replicates [[Dedup.sharedPairs]]' auto-dispatch EXACTLY —
      * the selection scalar Σ df·(df−1) over the non-hot df spectrum
      * (`pspent`, the same single number the engine probes), the
      * lossless inverted-index branch guarded `WHERE pspent ≤ budget`,
      * and the murmur3-exact 128-perm / 32-band / cap-256 minhash
      * branch (the dedup_minhash replica) guarded `WHERE pspent >
      * budget`. The budget literal mirrors
      * [[Dedup.pairsCandidateBudget]]. All 16 downstream
      * closure-family oracles (Clusters/Curate) splice this fragment
      * instead of inlining their own exact-only chain, so the entries
      * stay hash-provable at every scale factor on whichever plan the
      * corpus selects — the guarded-UNION pattern containment_pairs
      * proved at round 8, promoted to the shared asset.
      *
      * Cost discipline: BOTH branches guard at their SOURCE relation,
      * not at their output — the LSH branch at `plsrc` (under budget
      * the 128-hash signature chain runs over an EMPTY relation), and
      * since round 10 the exact branch at `pexf` (above budget the
      * inverted-index self-join runs over an EMPTY relation — a guard
      * only on pecand's WHERE left DuckDB evaluating the 10⁹-row join
      * before filtering it, measured >20 min on the 250k-doc slice). CTE names are p-prefixed to never collide with the
      * splicing statements' own CTEs.
      */
    val pairGraphChainSql: String = pairGraphChain(forceExact = false)

    /** Forced-exact variant of the chain: the budget guards are
      * replaced so the lossless inverted-index branch ALWAYS runs and
      * the LSH branch is statically empty — the lsh_recall baseline,
      * which must never degenerate to comparing the LSH graph with
      * itself above budget (round-9 advice item 1). Same CTE names and
      * final `pairs` contract as [[pairGraphChainSql]].
      */
    val exactPairChainSql: String = pairGraphChain(forceExact = true)

    /** SQL twin of [[Dedup.withShingles]] over a CTE `toks(doc_id, t)`:
      * the CTE `sh(doc_id, shingles)`, each doc's distinct word
      * 3-grams, for docs of 3 tokens or more.
      */
    val shingleSetsSql: String =
      """sh AS (
           SELECT doc_id,
                  list_distinct([array_to_string(t[i:i+2], ' ')
                                 for i in range(1, len(t) - 1)]) AS shingles
           FROM toks WHERE len(t) >= 3)"""

    /** The pair graph's edges in both directions plus a self-loop per
      * endpoint, closing a CTE: every doc reaches itself.
      */
    private val reflexiveEdgesSql: String =
      """SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs
           UNION SELECT doc_a, doc_a FROM pairs
           UNION SELECT doc_b, doc_b FROM pairs)"""

    /** The near-dup closure of [[pairGraphChainSql]] as the Curate
      * oracles splice it, inside a `WITH RECURSIVE`: the chain, `sym_e`
      * (both edge directions plus self-loops), the recursive
      * `reach(a, b)`, `comp(doc_id, rep)` (each doc's min reachable id)
      * and `<name>(doc_id)`, the docs that are not their cluster's
      * representative.
      */
    def nonRepsSql(name: String): String = pairGraphChainSql + s""",
         sym_e AS (
           $reflexiveEdgesSql,
         reach(a, b) AS (
           SELECT a, b FROM sym_e
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym_e s ON r.b = s.a),
         comp AS (SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a),
         $name AS (SELECT doc_id FROM comp WHERE doc_id <> rep)"""

    /** The Clusters oracles' form of the same closure, the fixpoint of
      * [[Clusters.connectedComponents]]: `WITH RECURSIVE`, the chain, a
      * materialized `sym` and the recursive `reach(a, b)`.
      */
    val nearDupReachSql: String =
      """WITH RECURSIVE
         """ + pairGraphChainSql + """,
         sym AS MATERIALIZED (
           """ + reflexiveEdgesSql + """,
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)"""

    private def pairGraphChain(forceExact: Boolean): String = {
      val exactGuard =
        if (forceExact) "TRUE" else "(SELECT v FROM pspent) <= 1000000000"
      val lshGuard =
        if (forceExact) "FALSE" else "(SELECT v FROM pspent) > 1000000000"
      s"""ptoks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents),
          psh AS MATERIALIZED (
            SELECT doc_id,
                   list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in range(1, len(t) - 1)]) AS shingles
            FROM ptoks WHERE len(t) >= 3),
          pex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
                  FROM psh),
          pdfs AS MATERIALIZED (SELECT s, count(*) AS df FROM pex GROUP BY s),
          phot AS MATERIALIZED (SELECT s FROM pdfs WHERE df > greatest(1000,
            (SELECT count(*) FROM documents) // 1000)),
          pspent AS MATERIALIZED (
            SELECT coalesce(sum(df * (df - 1)), 0) AS v FROM pdfs
            WHERE s NOT IN (SELECT s FROM phot)),
          pexf AS MATERIALIZED (
            SELECT * FROM pex WHERE s NOT IN (SELECT s FROM phot)
              AND $exactGuard),
          pecand AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common,
                   any_value(a.n) AS na, any_value(b.n) AS nb
            FROM pexf a JOIN pexf b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          pepairs AS (
            SELECT doc_a, doc_b,
                   round(common * 1.0 / (na + nb - common), 4) AS jaccard
            FROM pecand WHERE common * 1.0 / (na + nb - common) >= 0.5),
          plsrc AS (SELECT doc_id, shingles FROM psh
                    WHERE $lshGuard),
          plex AS (SELECT doc_id, unnest(shingles) AS tok FROM plsrc),
          ${tokPrepP("lp", "plex", "")},
          ${fmixStagesP("lp", "")},
          pluls AS (SELECT doc_id, list([ua, ub | 1]) AS ul FROM lphh
                    GROUP BY doc_id),
          plsig AS (SELECT doc_id,
            list_transform(range(0, $MinhashHashes), i ->
              list_min(list_transform(ul, p -> p[1] + i*p[2]))) AS s
            FROM pluls),
          plbands AS (SELECT doc_id, bnd,
              (s[4*bnd+1] % 4294967296 - 2147483648) * 4294967296
                + s[4*bnd+2] % 4294967296 AS k1,
              (s[4*bnd+3] % 4294967296 - 2147483648) * 4294967296
                + s[4*bnd+4] % 4294967296 AS k2
            FROM plsig, unnest(range(0, $MinhashBands)) AS u(bnd)),
          plbcap AS (SELECT bnd, k1, k2 FROM plbands
                     GROUP BY bnd, k1, k2 HAVING count(*) <= $BandCap),
          plbk AS (SELECT b.doc_id, b.bnd, b.k1, b.k2
                   FROM plbands b JOIN plbcap USING (bnd, k1, k2)),
          plcand AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM plbk a JOIN plbk b
              ON a.bnd = b.bnd AND a.k1 = b.k1 AND a.k2 = b.k2
                 AND a.doc_id < b.doc_id),
          plver AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(sa.shingles, sb.shingles)) * 1.0
                     / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                     AS j
            FROM plcand
            JOIN psh sa ON sa.doc_id = doc_a
            JOIN psh sb ON sb.doc_id = doc_b),
          plpairs AS (SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM plver
                      WHERE j >= 0.5),
          pairs AS MATERIALIZED (
            SELECT * FROM pepairs UNION ALL SELECT * FROM plpairs)"""
    }

    /** minhash_band_profile oracle: per-band bucket-size statistics
      * over the same murmur3-exact banded signatures.
      */
    val bandProfileSql: String =
      s"""$minhashSigBandsSql,
          bsz AS (SELECT bnd, bkey, count(*) AS sz
                  FROM bands GROUP BY 1, 2)
          SELECT CAST(bnd AS INT) AS band,
                 count(*) AS n_buckets,
                 CAST(max(sz) AS BIGINT) AS max_bucket,
                 CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
                   AS n_collided,
                 CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
          FROM bsz GROUP BY bnd ORDER BY band"""

    /** containment_pairs oracle: BOTH plan-selected branches of
      * `containmentPairs` plus the selection rule itself, in one
      * statement. `cspent` recomputes the dispatcher's exact candidate
      * count Σ df·(df−1) over the non-hot spectrum; the lossless
      * inverted-index branch is guarded `WHERE cspent ≤ budget`, the
      * murmur3-exact minhash 64-band × 2-row LSH branch (shared `uls`
      * chain, 32-bit-wrapped signatures per MinHashSignature's wrap32,
      * re-banded to r=2) `WHERE cspent > budget` — exactly the
      * engine's decision, so the entry stays hash-provable at every
      * scale factor on whichever path the corpus selects. The
      * round-10 WINDOW-GRID candidates (32-token/stride-16 windows,
      * same banding, per-DISTINCT-doc buckets — see the
      * containmentPairsLsh scaladoc) are replicated in the `cw*`
      * chain and unioned into the candidate set before the one exact
      * verify; the window source is guarded at `cspent > budget` like
      * the signature chain, so sub-budget gates pay nothing for it.
      */
    // the window-grid disk-budget scalar, interpolated into the cwst
    // stride ladder — the engine's default parameter, so the two sides
    // always agree (see defaultWindowMassBudget)
    private def windowMassBudgetSql: String = defaultWindowMassBudget.toString

    val containmentPairsSql: String =
      s"""$minhashSigBandsSql,
          cex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
                  FROM sh),
          cdfs AS (SELECT s, count(*) AS df FROM cex GROUP BY s),
          chot AS (SELECT s FROM cdfs WHERE df > greatest(1000,
            (SELECT count(*) FROM documents) // 1000)),
          cexf AS (SELECT * FROM cex WHERE s NOT IN (SELECT s FROM chot)),
          cspent AS (SELECT coalesce(sum(df * (df - 1)), 0) AS v FROM cdfs
                     WHERE s NOT IN (SELECT s FROM chot)),
          ecand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common,
                   any_value(a.n) AS na
            FROM cexf a JOIN cexf b
              ON a.s = b.s AND a.doc_id <> b.doc_id AND b.n >= a.n * 0.8
            WHERE (SELECT v FROM cspent) <= 20000000
            GROUP BY 1, 2),
          epairs AS (
            SELECT doc_a, doc_b, round(common * 1.0 / na, 4) AS containment
            FROM ecand WHERE common * 1.0 / na >= 0.8),
          sigw AS (SELECT doc_id,
            list_transform(range(0, $MinhashHashes), i ->
              list_min(list_transform(ul, p -> (p[1] + i*p[2]) % 4294967296)))
              AS s
            FROM uls),
          bands2 AS (SELECT doc_id, bnd,
              (s[2*bnd+1] % 4294967296 - 2147483648) * 4294967296
                + s[2*bnd+2] % 4294967296 AS k1
            FROM sigw, unnest(range(0, $ContainBands)) AS u(bnd)),
          bcap2 AS (SELECT bnd, k1 FROM bands2
                    GROUP BY bnd, k1 HAVING count(*) <= $BandCap),
          bands2k AS (SELECT b.doc_id, b.bnd, b.k1
                      FROM bands2 b JOIN bcap2 USING (bnd, k1)),
          lcand AS (SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
            FROM bands2k a JOIN bands2k b
              ON a.bnd = b.bnd AND a.k1 = b.k1 AND a.doc_id < b.doc_id
            WHERE (SELECT v FROM cspent) > 20000000),
          cwmass AS (
            SELECT coalesce(sum(greatest(len(t)-$WindowTokens, 0)//16 + 1), 0) AS m,
                   count(*) AS d
            FROM toks WHERE len(t) >= 3),
          cwst AS (SELECT CASE
              WHEN (m-d)*16 <= ($windowMassBudgetSql-d)*16 THEN 16
              WHEN (m-d)*16 <= ($windowMassBudgetSql-d)*32 THEN 32
              WHEN (m-d)*16 <= ($windowMassBudgetSql-d)*64 THEN 64
              WHEN (m-d)*16 <= ($windowMassBudgetSql-d)*128 THEN 128
              ELSE 256 END AS st FROM cwmass),
          cwin AS (SELECT doc_id, i AS w,
              t[i*(SELECT st FROM cwst)+1 : i*(SELECT st FROM cwst)+$WindowTokens] AS wt
            FROM toks, unnest(range(0,
              greatest((len(t)-$WindowTokens)//(SELECT st FROM cwst), 0) + 1)) u(i)
            WHERE len(t) >= 3 AND (SELECT v FROM cspent) > 20000000),
          cwsh AS (SELECT doc_id, w,
              list_distinct([array_to_string(wt[j:j+2], ' ')
                             for j in range(1, len(wt) - 1)]) AS shingles
            FROM cwin WHERE len(wt) >= 3),
          cwex AS (SELECT doc_id, w, unnest(shingles) AS tok FROM cwsh),
          ${tokPrepP("cw", "cwex", "w,")},
          ${fmixStagesP("cw", "w,")},
          cwuls AS (SELECT doc_id, w, list([ua, ub | 1]) AS ul FROM cwhh
                    GROUP BY doc_id, w),
          cwsig AS (SELECT doc_id, w,
            list_transform(range(0, $MinhashHashes), i ->
              list_min(list_transform(ul, p -> (p[1] + i*p[2]) % 4294967296)))
              AS s
            FROM cwuls),
          cwbd AS (SELECT DISTINCT doc_id, bnd,
              (s[4*bnd+1] % 4294967296 - 2147483648) * 4294967296
                + s[4*bnd+2] % 4294967296 AS k1
            FROM cwsig, unnest(range(0, $WindowBands)) AS u(bnd)),
          cwcap AS (SELECT bnd, k1 FROM cwbd
                    GROUP BY bnd, k1 HAVING count(*) <= $WindowBandCap),
          cwk AS (SELECT b.doc_id, b.bnd, b.k1
                  FROM cwbd b JOIN cwcap USING (bnd, k1)),
          wcand0 AS (SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
            FROM cwk a JOIN cwk b
              ON a.bnd = b.bnd AND a.k1 = b.k1 AND a.doc_id < b.doc_id),
          csz AS (SELECT doc_id, any_value(n) AS n FROM cexf
                  GROUP BY doc_id),
          wcand AS (SELECT x, y FROM wcand0
            JOIN csz fa ON fa.doc_id = x
            JOIN csz fb ON fb.doc_id = y
            WHERE greatest(fa.n, fb.n) >= 2 * least(fa.n, fb.n)),
          allcand AS (SELECT DISTINCT x, y FROM
            (SELECT * FROM lcand UNION ALL SELECT * FROM wcand)),
          ldir AS (SELECT x AS doc_a, y AS doc_b FROM allcand
                   UNION ALL SELECT y AS doc_a, x AS doc_b FROM allcand),
          cshf AS (SELECT doc_id, list(s) AS shf, any_value(n) AS n
                   FROM cexf GROUP BY doc_id),
          lver AS (SELECT doc_a, doc_b,
              len(list_intersect(fa.shf, fb.shf)) AS common,
              fa.n AS na, fb.n AS nb
            FROM ldir
            JOIN cshf fa ON fa.doc_id = doc_a
            JOIN cshf fb ON fb.doc_id = doc_b),
          lpairs AS (SELECT doc_a, doc_b,
              round(common * 1.0 / na, 4) AS containment
            FROM lver WHERE nb >= na * 0.8 AND common * 1.0 / na >= 0.8)
          SELECT * FROM epairs UNION ALL SELECT * FROM lpairs
          ORDER BY doc_a, doc_b"""

    /** knn_lsh oracle: the random-hyperplane signatures replicated
      * bit-for-bit — plane components are
      * `MurmurHash3.productHash((plane, dim), 0x5bd1e995)` (Scala 2.13
      * mixes the "Tuple2" prefix hash first — constant 2516344202)
      * divided by Int.MaxValue; dot products accumulate in the same
      * sequential order (DuckDB list_sum ≡ the Scala fold, verified
      * 500/500 signatures); then 8×4-bit buckets, candidate join,
      * exact-cosine rerank.
      */
    /** Shared CTE chain `pi..sigs`: the bit-exact 32-plane hyperplane
      * signature of every row of `tbl` (see knnLshSql scaladoc for
      * the murmur replication details). Reused by the knn_lsh oracle
      * and the dedup_embedding LSH branch (round 8); parameterized by
      * source table so the seeded-corpus gate can sign its augmented
      * CTE instead of the raw embeddings table.
      */
    private def hyperplaneSigsSqlFor(tbl: String): String = {
      import HashOps.{HyperplaneBits, HyperplaneDims}
      val mixChain = mixh(mixh(mixh("1540483477", "2516344202"), "p"), "i")
      s"""pi AS (SELECT p, i
            FROM unnest(range(0,$HyperplaneBits)) t(p), unnest(range(0,$HyperplaneDims)) u(i)),
          m0 AS (SELECT p, i, $mixChain AS h FROM pi),
          a0 AS (SELECT p, i, xor(xor(h, 2), xor(h, 2)//65536) AS a1 FROM m0),
          a1s AS (SELECT p, i, ${mulMod("a1", "2246822507")} AS a2 FROM a0),
          a2s AS (SELECT p, i, xor(a2, a2//8192) AS a3 FROM a1s),
          a3s AS (SELECT p, i, ${mulMod("a3", "3266489909")} AS a4 FROM a2s),
          a4s AS (SELECT p, i, xor(a4, a4//65536) AS uu FROM a3s),
          comp AS (SELECT p, i,
            (CASE WHEN uu >= 2147483648 THEN uu - 4294967296 ELSE uu END)
              / 2147483647.0 AS v
            FROM a4s),
          planes AS (SELECT p, list(v ORDER BY i) AS pl FROM comp GROUP BY p),
          dots AS (SELECT e.vec_id, pl.p,
            list_sum(list_transform(range(1, 65), i ->
              CAST(e.embedding[i] AS DOUBLE) * pl.pl[i])) AS dot
            FROM $tbl e, planes pl),
          sigs AS (SELECT vec_id,
            CAST(sum(CASE WHEN dot >= 0 THEN
              CASE WHEN p = 31 THEN -2147483648
                   ELSE (CAST(1 AS BIGINT) << p) END
              ELSE 0 END) AS BIGINT) AS sig
            FROM dots GROUP BY vec_id)"""
    }

    private val hyperplaneSigsSql: String = hyperplaneSigsSqlFor("embeddings")

    /** dedup_embedding oracle: BOTH plan-selected branches (exact
      * label-blocked self-join ≤ budget; 4-table × 8-bit hyperplane
      * LSH within label + exact-cosine verify above it) plus the
      * selection scalar Σ n·(n−1) over label blocks — mirrors the
      * containment_pairs guarded-UNION pattern. Runs over the SEEDED
      * corpus `embx` (originals ∪ one perturbed float-exact copy of
      * every 7th vector — the same derivation the engine entry makes),
      * so the gate has true near-dup pairs to find at every SF: the
      * raw synthetic embeddings are near-orthogonal (max within-label
      * cosine ≈ 0.47 at sf0.01), which made the 0.99-threshold result
      * empty — a hash match of two empty sets proves schema, not the
      * cosine/dispatch/rounding pipeline.
      */
    val embeddingPairsSql: String = {
      def dcos(a: String, b: String) = duckCosine(a, b)
      s"""WITH embx AS (
            SELECT vec_id, label, embedding FROM embeddings
            UNION ALL
            SELECT -(vec_id + 1), label,
              CAST(list_transform(range(1, 65), i -> CASE WHEN i = 1
                  THEN CAST(CAST(embedding[1] AS DOUBLE) * 1.02 + 0.001 AS FLOAT)
                  ELSE embedding[i] END) AS FLOAT[]) AS embedding
            FROM embeddings WHERE vec_id % 7 = 0),
          ${hyperplaneSigsSqlFor("embx")},
          lc AS (SELECT label, count(*) AS n FROM embx GROUP BY label),
          spent AS (SELECT coalesce(sum(n * (n - 1)), 0) AS v FROM lc),
          epairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(${dcos("a.embedding", "b.embedding")}, 4) AS cosine
            FROM embx a JOIN embx b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE (SELECT v FROM spent) <= 100000000
              AND ${dcos("a.embedding", "b.embedding")} >= 0.99),
          tsel AS (
            SELECT tables, bits
            FROM (VALUES (4, 8, 1), (2, 16, 2), (1, 32, 3)) s(tables, bits, rung)
            WHERE (SELECT v FROM spent) // (CAST(1 AS BIGINT) << bits)
                    <= $LshBucketBudget // tables
            ORDER BY rung LIMIT 1),
          tsel2 AS (SELECT coalesce((SELECT tables FROM tsel), 1) AS tables,
                           coalesce((SELECT bits FROM tsel), 32) AS bits),
          lbuckets AS (SELECT s2.vec_id, e.label,
              t, (sig >> (t * (SELECT bits FROM tsel2))) &
                 ((CAST(1 AS BIGINT) << (SELECT bits FROM tsel2)) - 1) AS bkey
            FROM sigs s2 JOIN embx e USING (vec_id),
                 unnest(range(0, (SELECT tables FROM tsel2))) u(t)),
          lcand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM lbuckets a JOIN lbuckets b
              ON a.label = b.label AND a.t = b.t AND a.bkey = b.bkey
                 AND a.vec_id < b.vec_id
            WHERE (SELECT v FROM spent) > 100000000),
          lpairs AS (
            SELECT vec_a, vec_b,
                   round(${dcos("ea.embedding", "eb.embedding")}, 4) AS cosine
            FROM lcand
            JOIN embx ea ON ea.vec_id = vec_a
            JOIN embx eb ON eb.vec_id = vec_b
            WHERE ${dcos("ea.embedding", "eb.embedding")} >= 0.99)
          SELECT * FROM epairs UNION ALL SELECT * FROM lpairs
          ORDER BY vec_a, vec_b"""
    }

    val knnLshSql: String = {
      def dot(x: String, y: String) =
        s"list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
      val cos = s"(${dot("qe.embedding", "ce.embedding")} / " +
        s"(sqrt(${dot("qe.embedding", "qe.embedding")}) * sqrt(${dot("ce.embedding", "ce.embedding")})))"
      s"""WITH $hyperplaneSigsSql,
          buckets AS (SELECT vec_id, t, (sig >> (t*4)) & 15 AS bucket
            FROM sigs, unnest(range(0, ${graft.similarity.Knn.LshTables})) u(t)),
          cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
            WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
          scored AS (SELECT query_id, neighbor_id, $cos AS cos
            FROM cand JOIN embeddings qe ON qe.vec_id = query_id
                      JOIN embeddings ce ON ce.vec_id = neighbor_id),
          ranked AS (SELECT query_id, neighbor_id, cos,
            CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS INT) AS rank
            FROM scored)
          SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
          FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""
    }

    val simhashPairsSql: String =
      s"""WITH toks AS (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents),
          tc AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
          ${tokPrep("tc", "cnt,")},
          ${fmixStages("cnt,")},
          ${simhashSigSql("hh")}
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.s, b.s)) <= $SimhashMaxHamming
          ORDER BY doc_a, doc_b"""
  }

  // `defs` is lazy: see MurmurSql for the initialization-order hazard
  lazy val defs: Map[String, QueryDef] = Map(

    // D1 — exact dedup by content hash: one hash-shuffle, keep the
    // smallest doc_id per group, report only actual duplicate groups.
    "dedup_exact" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(md5(col("text").cast("binary")).as("content_hash"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .filter(col("n_copies") > 1)
          .orderBy("keep_id"),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
                count(*) AS n_copies
         FROM documents GROUP BY md5(text) HAVING count(*) > 1
         ORDER BY keep_id"""),

    // D104 — exact-duplicate MULTIPLICITY histogram: how many content
    // hashes occur once, twice, k times — the exact-hash twin of
    // D92's near-dup cluster-size histogram, and the first number a
    // crawl health check reads (a spike at high multiplicity is a
    // crawler revisit loop or a mirror farm; D92 then says whether
    // near-dup mass rides on top of it). Two hash-bounded collapses
    // (content-hash count, then multiplicity count) — the first
    // partial-aggregates map-side, so a million-copy hash crosses the
    // wire as one row.
    "exact_dup_multiplicity" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(count(lit(1)).as("n_copies"))
          .groupBy("n_copies")
          .agg(count(lit(1)).as("n_hashes"))
          .orderBy("n_copies"),
      """WITH c AS (
           SELECT md5(text) AS h, count(*) AS n_copies
           FROM documents GROUP BY md5(text))
         SELECT n_copies, count(*) AS n_hashes
         FROM c GROUP BY n_copies ORDER BY n_copies"""),

    // D2 — blocked n-gram Jaccard (threshold 0.5), read from the shared
    // materialized pair graph (first consumer pays the build). The
    // oracle IS the canonical dispatched statement: both plan-selected
    // branches plus the Σ df·(df−1) selection rule, via the shared
    // fragment every closure-family oracle splices.
    "dedup_ngram" -> QueryDef(
      (s, d) =>
        sharedPairs(s, d)
          .orderBy("doc_a", "doc_b"),
      s"""WITH ${MurmurSql.pairGraphChainSql}
          SELECT doc_a, doc_b, jaccard FROM pairs
          ORDER BY doc_a, doc_b"""),

    // D70 — directed shingle-containment pairs at 0.8 (see
    // containmentPairs): the asymmetric complement of dedup_ngram's
    // Jaccard — catches snippets/quotes embedded in larger documents
    // that symmetric similarity structurally cannot. Round 8: plan-
    // selected against an absolute candidate budget (lossless index
    // under budget, minhash-LSH + exact verify above it); the oracle
    // replicates both branches AND the selection rule.
    "containment_pairs" -> QueryDef(
      (s, d) =>
        containmentPairs(Tables.documents(s, d), 0.8,
          postingsSet = Some(sharedPostings(s, d)))
          .orderBy("doc_a", "doc_b"),
      MurmurSql.containmentPairsSql),

    // D41 — incremental batch dedup: docs 400+ play the arriving batch,
    // docs 0–399 the indexed base corpus. Each new doc gets a verdict:
    // exact_dup (content hash already seen in base or earlier in the
    // batch — the D1 layer run incrementally), near_dup (Jaccard ≥ 0.5
    // against a BASE doc via the index probe), or new. The oracle
    // recomputes both layers from scratch; the probe must lose nothing
    // vs the full-corpus pairing restricted to base×batch pairs.
    "dedup_incremental" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val split = 400L
        val base = docs.filter(col("doc_id") < split)
        val batch = docs.filter(col("doc_id") >= split)
        val h = docs.select(col("doc_id"),
          md5(col("text").cast("binary")).as("h"))
        val firstH = h.groupBy("h").agg(min("doc_id").as("first_id"))
        val exactDup = h.join(firstH, "h")
          .filter(col("doc_id") > col("first_id") && col("doc_id") >= split)
          .select(col("doc_id").as("e_id")).distinct()
        val post = sharedPostings(s, d)
        val nearNew = ngramJaccardProbe(base, batch, 0.5,
          basePostings = Some(post.filter(col("doc_id") < split)),
          incomingPostings = Some(post.filter(col("doc_id") >= split)))
          .select(col("doc_b").as("n_id")).distinct()
        batch.select("doc_id")
          .join(exactDup, col("doc_id") === col("e_id"), "left")
          .join(nearNew, col("doc_id") === col("n_id"), "left")
          .select(col("doc_id"),
            when(col("e_id").isNotNull, "exact_dup")
              .when(col("n_id").isNotNull, "near_dup")
              .otherwise("new").as("verdict"))
          .orderBy("doc_id")
      },
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         """ + MurmurSql.shingleSetsSql + """,
         ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
                FROM sh),
         hot AS (
           SELECT s FROM ex WHERE doc_id < 400 GROUP BY s
           HAVING count(*) > greatest(1000,
             (SELECT count(*) FROM documents WHERE doc_id < 400) // 1000)),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common,
                  any_value(a.n) AS na, any_value(b.n) AS nb
           FROM ex a JOIN ex b ON a.s = b.s
           WHERE a.doc_id < 400 AND b.doc_id >= 400
             AND a.s NOT IN (SELECT s FROM hot)
           GROUP BY 1, 2),
         near AS (
           SELECT DISTINCT doc_b AS doc_id FROM pairs
           WHERE common * 1.0 / (na + nb - common) >= 0.5),
         h AS (SELECT doc_id, md5(text) AS h FROM documents),
         firsth AS (SELECT h, min(doc_id) AS first_id FROM h GROUP BY h),
         exact AS (
           SELECT DISTINCT d.doc_id
           FROM h d JOIN firsth f ON d.h = f.h
           WHERE d.doc_id > f.first_id AND d.doc_id >= 400)
         SELECT d.doc_id,
                CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                     WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                     ELSE 'new' END AS verdict
         FROM documents d
         LEFT JOIN exact e ON d.doc_id = e.doc_id
         LEFT JOIN near nr ON d.doc_id = nr.doc_id
         WHERE d.doc_id >= 400
         ORDER BY d.doc_id"""),

    // D3 — MinHash LSH, oracle-checked: the DuckDB replica recomputes
    // the murmur3-exact signatures, the banding, and the Jaccard
    // verify (MurmurSql.minhashPairsSql); spec additionally checks
    // recall vs dedup_ngram.
    "dedup_minhash" -> QueryDef(
      (s, d) => sharedMinhashPairs(s, d)
        .orderBy("doc_a", "doc_b"),
      MurmurSql.minhashPairsSql),

    // D91 — per-band LSH bucket-size profile: for each of the 32 bands,
    // the bucket count, the largest bucket, how many docs share a
    // bucket with at least one other, and the exact candidate-pair
    // yield Σ sz·(sz−1)/2. This is how banding parameters are VALIDATED
    // at scale before paying for the candidate join: a healthy profile
    // has max_bucket ≪ corpus and cand_pairs within budget; one fat
    // bucket here is the pathological-skew early warning the round-4
    // verdict asked the dedup family to watch for. Groups on the raw
    // 4-perm signature SLICE (slice equality is the band-join
    // predicate; no engine-private hash crosses the oracle boundary),
    // so the plan is the LSH shuffle itself: (band, slice) partial-agg
    // collapse, then a 32-row band collapse — all exact integers.
    "minhash_band_profile" -> QueryDef(
      (s, d) => bandProfile(Tables.documents(s, d)),
      MurmurSql.bandProfileSql),

    // D4 — SimHash, oracle-checked: DuckDB recomputes the murmur3-exact
    // 64-bit signatures (SimhashSql) and the banding guarantee reduces
    // the operator's output to "all pairs with hamming ≤ 3".
    "dedup_simhash" -> QueryDef(
      (s, d) => simhashPairs(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b"),
      MurmurSql.simhashPairsSql),

    // D5 — embedding cosine near-dup, label-blocked. Gated over the
    // SEEDED corpus (scaladoc at seededEmbeddings): the raw synthetic
    // vectors have no 0.99-cosine pairs at any SF, so the seeding is
    // what makes this gate test the pipeline, not the empty set.
    "dedup_embedding" -> QueryDef(
      (s, d) =>
        embeddingPairs(seededEmbeddings(Tables.embeddings(s, d)), 0.99)
          .orderBy("vec_a", "vec_b"),
      MurmurSql.embeddingPairsSql))

  /** D78 — LSH evaluation harness: MinHash-LSH pair recall/precision
    * against the exact inverted-index pairs at the same threshold — the
    * measurement every dedup pipeline runs before trusting an
    * approximate method at corpus scale (band/row tuning is meaningless
    * without it). The baseline is [[sharedExactPairs]] — the FORCED
    * exact graph, never the dispatched [[sharedPairs]], which above
    * budget IS the LSH graph and would make the metric a 1.0
    * self-comparison; the LSH side is the production candidate path. Counts join on the pair key — both
    * sides are pair-bounded, far smaller than the corpus. Ratios are
    * exact-integer divisions, NULL-guarded at zero on both engines
    * (Spark div-by-zero yields NULL, DuckDB yields NaN — the guard
    * removes the divergence). The oracle recomposes the two
    * independently gate-proven replicas (murmur3-exact signatures and
    * the shingle inverted index) as derived tables.
    *
    * Defined OUTSIDE `defs` because it quotes the dedup_ngram oracle —
    * a self-reference during the map's own initialization would NPE.
    */
  lazy val evalDefs: Map[String, QueryDef] = {
    val exactSql = defs("dedup_ngram").oracle.get
    // lsh_recall's baseline must be the FORCED-EXACT chain, not the
    // dispatched one: above budget the dispatched chain (and a
    // sharedPairs-spelled engine side) resolve to the LSH graph itself,
    // degenerating recall/precision to a 1.0 self-comparison exactly at
    // the dense scales the metric exists to measure (round-9 advice
    // item 1). Below budget the two chains are value-identical, so the
    // committed gates are unchanged.
    val exactBaselineSql =
      s"""SELECT doc_a, doc_b, jaccard
          FROM (WITH ${MurmurSql.exactPairChainSql}
                SELECT * FROM pairs) t"""
    val lshSql = MurmurSql.minhashPairsSql
    Map("lsh_recall" -> QueryDef(
      (s, d) => {
        val exact = sharedExactPairs(s, d).select("doc_a", "doc_b")
        val lsh = sharedMinhashPairs(s, d)
          .select(col("doc_a").as("l_a"), col("doc_b").as("l_b"))
        exact
          .join(lsh, col("doc_a") === col("l_a") &&
            col("doc_b") === col("l_b"), "full_outer")
          .agg(count(col("doc_a")).as("n_exact"),
            count(col("l_a")).as("n_lsh"),
            count(when(col("doc_a").isNotNull && col("l_a").isNotNull,
              lit(1))).as("n_common"))
          .select(col("n_exact"), col("n_lsh"), col("n_common"),
            when(col("n_exact") > 0,
              round(col("n_common") * lit(1.0) / col("n_exact"), 4))
              .as("recall"),
            when(col("n_lsh") > 0,
              round(col("n_common") * lit(1.0) / col("n_lsh"), 4))
              .as("precision"))
      },
      s"""SELECT n_exact, n_lsh, n_common,
                 CASE WHEN n_exact > 0
                      THEN round(n_common * 1.0 / n_exact, 4) END AS recall,
                 CASE WHEN n_lsh > 0
                      THEN round(n_common * 1.0 / n_lsh, 4) END AS precision
          FROM (
            SELECT
              (SELECT count(*) FROM ($exactBaselineSql) t) AS n_exact,
              (SELECT count(*) FROM ($lshSql) t) AS n_lsh,
              (SELECT count(*)
               FROM ($exactBaselineSql) a JOIN ($lshSql) b
                 ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b) AS n_common) s"""),

    // D80 — cross-modal pair verification: every lexical near-dup pair
    // (Jaccard ≥ 0.5, the shared pair asset) annotated with the
    // embedding cosine of its two documents and a semantic-agreement
    // verdict — the audit a pipeline runs before trusting lexical dedup
    // to stand in for semantic dedup (high-Jaccard/low-cosine pairs are
    // template reuse, the reverse are paraphrases). The pair set is
    // dup-bounded, so joining it against the embedding table twice is
    // two key-partitioned probes of a corpus-scale side — never a
    // corpus×corpus product. The verdict compares the 4 dp-ROUNDED
    // cosine on both engines (codegen'd CosineSimilarity ≡ duckCosine's
    // sequential fold, the dedup_embedding-proven twin), so a last-ulp
    // divergence cannot flip the boolean.
    "semantic_pair_verify" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
        sharedPairs(s, d)
          .join(emb.select(col("vec_id").as("doc_a"),
            col("embedding").as("ea")), "doc_a")
          .join(emb.select(col("vec_id").as("doc_b"),
            col("embedding").as("eb")), "doc_b")
          .withColumn("cosine",
            round(VectorOps.cosine(col("ea"), col("eb")), 4))
          .select(col("doc_a"), col("doc_b"), col("jaccard"),
            col("cosine"), (col("cosine") >= 0.9).as("semantic_agree"))
          .orderBy("doc_a", "doc_b")
      },
      s"""SELECT p.doc_a, p.doc_b, p.jaccard,
                 round(${MurmurSql.duckCosine("ea.embedding", "eb.embedding")}, 4)
                   AS cosine,
                 (round(${MurmurSql.duckCosine("ea.embedding", "eb.embedding")}, 4)
                   >= CAST(0.9 AS DOUBLE)) AS semantic_agree
          FROM ($exactSql) p
          JOIN embeddings ea ON ea.vec_id = p.doc_a
          JOIN embeddings eb ON eb.vec_id = p.doc_b
          ORDER BY doc_a, doc_b"""),

    // D81 — duplication-vs-length correlation: Pearson r between each
    // document's length and its near-dup-graph degree (0 for clean
    // docs) — the one-number answer to "is our duplication concentrated
    // in long boilerplate or short snippets?", which decides whether
    // dedup should run before or after length filtering. Degree comes
    // from the shared pair asset (dup-bounded); the moments are EXACT
    // integer power sums (x·y, x², y² in long per row — a 10⁶-char doc
    // with 10⁴ dup edges is 10¹⁰ ≪ 2⁶³ — accumulated in decimal(38,0)
    // / hugeint), so r is a fixed tree of correctly-rounded double ops:
    // deterministic at 4 dp with no float-accumulation hazard.
    // Zero-variance corpora (no dups, or constant lengths) NULL-guard
    // identically on both engines.
    "dup_length_corr" -> QueryDef(
      (s, d) => {
        val deg = sharedPairs(s, d)
          .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
          .groupBy("id").agg(count(lit(1)).as("degree"))
        val j = Tables.documents(s, d)
          .join(deg, col("doc_id") === col("id"), "left")
          .select(col("n_chars").as("x"),
            coalesce(col("degree"), lit(0L)).as("y"))
        val a = j.agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sx2"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("sy2"),
          sum(when(col("y") > 0, 1L).otherwise(0L)).as("n_dup"))
        val nd = col("n").cast("double")
        val (sx, sy) = (col("sx").cast("double"), col("sy").cast("double"))
        val vx = nd * col("sx2").cast("double") - sx * sx
        val vy = nd * col("sy2").cast("double") - sy * sy
        a.select(col("n").as("n_docs"), col("n_dup").as("n_dup_docs"),
          when(vx > 0 && vy > 0,
            round((nd * col("sxy").cast("double") - sx * sy)
              / (sqrt(vx) * sqrt(vy)), 4)).as("corr"))
      },
      s"""WITH deg AS (
            SELECT id, count(*) AS degree
            FROM (SELECT doc_a AS id FROM ($exactSql) p
                  UNION ALL SELECT doc_b FROM ($exactSql) p)
            GROUP BY id),
          j AS (
            SELECT d.n_chars AS x, coalesce(g.degree, 0) AS y
            FROM documents d LEFT JOIN deg g ON d.doc_id = g.id),
          a AS (
            SELECT count(*) AS n,
                   CAST(sum(x) AS DOUBLE) AS sx,
                   CAST(sum(y) AS DOUBLE) AS sy,
                   CAST(sum(x * y) AS DOUBLE) AS sxy,
                   CAST(sum(x * x) AS DOUBLE) AS sx2,
                   CAST(sum(y * y) AS DOUBLE) AS sy2,
                   CAST(sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dup
            FROM j)
          SELECT n AS n_docs, n_dup AS n_dup_docs,
                 CASE WHEN (CAST(n AS DOUBLE) * sx2 - sx * sx) > 0
                       AND (CAST(n AS DOUBLE) * sy2 - sy * sy) > 0
                      THEN round((CAST(n AS DOUBLE) * sxy - sx * sy)
                             / (sqrt(CAST(n AS DOUBLE) * sx2 - sx * sx)
                                * sqrt(CAST(n AS DOUBLE) * sy2 - sy * sy)),
                             4) END AS corr
          FROM a"""))
  }
}
