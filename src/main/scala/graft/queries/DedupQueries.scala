package graft.queries

import graft.Checkpoints.EagerOps
import graft.sources.Tables
import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operator family over `documents` / `embeddings` (driver
 * north-star): exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine
 * near-dup. Every pipeline is the scalable formulation — inverted-index
 * (shingle/band/bucket) joins with map-side-combinable aggregations, never an
 * O(n²) cross join (the one brute-force variant, d5, is label-free and exists
 * as the exactness baseline; its LSH-bucketed sibling is s2 in
 * [[SimilarityQueries]]).
 *
 * 100 TB notes: the shingle inverted index shuffles O(total shingles) rows
 * keyed by shingle; hot shingles (stop-phrases) would skew — mitigated
 * upstream by per-doc distinctness and by the [[MaxShingleDf]] posting cap
 * (the classic MapReduce-dedup mitigation), which bounds the candidate
 * fan-out at Σ min(df, cap)² instead of Σ df².
 * MinHash keeps per-doc state at NumHashes longs regardless of doc size, so
 * the candidate join shuffles O(docs x bands) tiny rows — the scale path.
 */
object DedupQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def embs(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Jaccard threshold for near-dup (calibrated: planted dups sit at ≥0.9,
    * the background at ≤0.2 — clean separation at sf0.01/sf0.1). */
  private[graft] val JaccardT = 0.5

  private[graft] val ShingleK = 3

  /** d8: non-overlapping passage length in tokens (the sub-document dedup
    * granularity; the trailing <16-token remainder is not a passage). */
  private val PassageLen = 16

  /** Hot-shingle document-frequency cap on the CANDIDATE index (the
    * reference's own flagged weakness — hub-key reducer skew,
    * `RESULTS.md:119`). A shingle appearing in df docs contributes df²/2
    * candidate pairs; a stop-phrase shingle with df ≈ N makes the self-join
    * fan-out O(N²) on a natural corpus. Shingles with df > cap are dropped
    * from the posting list BEFORE the self-join — candidate generation only;
    * surviving pairs are verified with exact Jaccard over the FULL shingle
    * sets, so reported similarities are uncapped.
    *
    * Recall contract: a pair whose shared shingles ALL have df > cap is
    * missed. At the 0.5 Jaccard threshold such pairs share many shingles,
    * and near-dup text shares its rare shingles too, so the loss is
    * negligible in practice (the classic MapReduce-dedup mitigation). The
    * cap is absolute: inert at test SFs (max df 25 at sf0.1), decisive at
    * 100 TB where stop-phrase df ≈ corpus size. */
  private[queries] val MaxShingleDf = 1000

  /** (doc_id, sh) with non-empty DISTINCT HASHED word-3-gram shingle sets —
    * the codegen'd [[graft.functions.ShingleHashes]] expression (shingles
    * never materialize as strings; the oracle hashes its string shingles at
    * the same point, so per-doc sets match element for element). All Jaccard
    * math downstream is over hashed shingles; with P≈2^30 and ~10^5 distinct
    * shingles, cross-shingle collisions are ~1e-4-rare and, when they occur,
    * identical in both engines. */
  /** Staged shingle sets, memoized per (session, dir): the table feeds d2's
    * posting index + df agg + both verify sides AND d3's signature + verify
    * paths — unstaged, the codegen ShingleHashes scan re-executes on every
    * branch (4x inside d2 alone). O(corpus) blocks — the table one would
    * cache/checkpoint on a cluster for exactly the same reason. */
  private val shCache = new SessionCache[String]

  private[queries] def shingleSets(s: SparkSession, d: String): DataFrame =
    shCache.getOrElseUpdate(s, d)(SharedBuilds.timed("shingle_sets")(
      shingleSetsOf(docs(s, d)).eagerCheckpoint()))

  private[graft] def shingleSetsOf(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        graft.functions.VectorFunctions.shingleHashes(col("text"), ShingleK, HashP).as("sh"))
      .where(size(col("sh")) > 0)

  /** Memoized default-dial LSH band index over the staged shingle sets
    * (r18, guide §2.4 — the persisted-signature-index production shape):
    * band keys are per-doc and row-local, so EVERY default-dial consumer —
    * d3's candidate self-join, d12's corpus/batch split (a doc_id filter of
    * this index IS the split half's index) — reads one materialization
    * instead of re-running the 32-hash minhash over the corpus per query.
    * O(docs × bands) tiny rows. */
  private val bandCache = new SessionCache[String]

  private[queries] def bandIndex(s: SparkSession, d: String): DataFrame =
    bandCache.getOrElseUpdate(s, d)(SharedBuilds.timed("band_index")(
      lshBands(shingleSets(s, d)).eagerCheckpoint()))

  /** Memoized jaccard-qualified pair set per (session, dir): d2 defines it,
    * d6 clusters it — same engine-level reuse as the CCF assignments cache
    * (ADVICE r01). Eager checkpoint so reuse reads materialized blocks.
    * Session lifecycle handled by [[SessionCache]]. */
  private val pairsCache = new SessionCache[String]

  /** Memoized d14 span report per (session, dir): d14 gates it, d15 cuts
    * it — the spans self-join is the expensive half of both keys (the same
    * engine-level reuse as pairsCache). */
  private val spansCache = new SessionCache[String]

  private[queries] def substringSpans(s: SparkSession, d: String): DataFrame =
    spansCache.getOrElseUpdate(s, d)(SharedBuilds.timed("substring_spans")(
      spansFromCapped(capPostings(gramPostings(s, d), MaxGramDf)).eagerCheckpoint()))

  /** Evict this session's memoized checkpoints (long-lived services). */
  def clearCaches(s: SparkSession): Unit = {
    pairsCache.clear(s); shCache.clear(s); spansCache.clear(s); gramCache.clear(s)
    bandCache.clear(s)
  }

  private[queries] def cachedEntryCount: Int = pairsCache.size

  private def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    // hoist the shingle build so a cold cache attributes it to "shingle_sets"
    val sh = shingleSets(s, d)
    pairsCache.getOrElseUpdate(s, d)(SharedBuilds.timed("jaccard_pairs")(
      jaccardPairsOf(sh, MaxShingleDf).eagerCheckpoint()))
  }

  /** Capped-candidate + exact-verify Jaccard pair pipeline (parametric cap so
    * the planted-hot-shingle spec can exercise a small one). Postings with
    * df > maxDf are dropped from the candidate self-join (see [[MaxShingleDf]]
    * for the recall contract); candidates are then verified with exact Jaccard
    * over the full shingle sets, so similarity values never depend on the cap.
    *
    * Two-phase verification keeps the per-pair work codegen'd: phase 1 counts
    * common RARE shingles per pair (plain hash aggregate over the self-join —
    * no arrays carried) and filters on a Jaccard UPPER BOUND
    * (common ≤ common_rare + min(hot_a, hot_b), Jaccard monotone in common —
    * conservative, never drops a qualifying pair); only survivors reach the
    * phase-2 exact array-intersect over full sets. With no hot shingles the
    * bound IS the exact Jaccard, so phase 2 touches output pairs only (~10⁻⁶
    * of the candidate space at sf0.1: 25 of 1.13M). */
  private[queries] def jaccardPairsOf(sh: DataFrame, maxDf: Int): DataFrame = {
    val post = sh.select(col("doc_id"), explode(col("sh")).as("s"), size(col("sh")).as("n"))
    val rare = post.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("s")
    val capped = post.join(rare, "s")
    // per-doc count of DROPPED (hot) shingles — 0 for every doc when inert
    val hot = post
      .join(rare.withColumn("rare", lit(true)), Seq("s"), "left")
      .groupBy("doc_id").agg(coalesce(sum(when(col("rare").isNull, 1L)), lit(0L)).as("h"))
    val counted = capped.as("a").join(capped.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
               col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("common_r"))
    val ubCommon = col("common_r") + least(col("ha"), col("hb"))
    val cand = counted
      .join(hot.select(col("doc_id").as("doc_a"), col("h").as("ha")), "doc_a")
      .join(hot.select(col("doc_id").as("doc_b"), col("h").as("hb")), "doc_b")
      .where(ubCommon.cast("double") / (col("na") + col("nb") - ubCommon) >= JaccardT)
      .select("doc_a", "doc_b")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .where(jaccard(col("sa"), col("sb")) >= JaccardT)
      .select(col("doc_a"), col("doc_b"), jaccard(col("sa"), col("sb")).as("jaccard"))
  }

  /** d8 pipeline on any (doc_id, text) frame (parametric for fixture specs). */
  private[queries] def passageDedupOf(documents: DataFrame): DataFrame = {
    val P = PassageLen
    val passages = documents
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .where(size(col("ws")) >= P)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), (size(col("ws")) / P).cast("int") - 1),
          i => polyHash(concat_ws(" ", slice(col("ws"), i * P + 1, lit(P))))))
          .as(Seq("pos", "h")))
    // first occurrence per passage hash via aggregate-then-join, NOT a
    // Window over the postings (the d1/d14 r14 idiom): min(struct) combines
    // map-side, so a pathological boilerplate passage repeated across
    // millions of docs reduces to one row per map partition instead of
    // buffering its whole posting list in a single WindowExec task; the
    // join back streams the probe side (and AQE can split a skewed hash),
    // which a window partition cannot.
    val first = passages.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    passages.join(first, "h")
      .select(col("doc_id"),
        (struct(col("doc_id"), col("pos")) =!= col("first")).as("dup"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
           sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
  }

  /** d14: minimum duplicated-span length in tokens — also the k-gram width
    * the detector joins on. A shared token span of length >= SpanLen
    * contains the shared SpanLen-gram at EVERY offset inside it, so
    * detection is exact at arbitrary alignment (unlike d8's fixed-stride
    * passages, which miss any copy shifted off the 16-token grid). */
  private[graft] val SpanLen = 16

  /** Posting cap for d14's all-position gram index — the same recall
    * contract as [[MaxShingleDf]]: a 16-token gram repeated in more than
    * MaxGramDf postings is dropped from candidate generation (bounding the
    * hash self-join fan-out at cap² per gram); a span ALL of whose grams
    * are that hot is missed, and a span containing one is split at it.
    * 16-token grams are near-unique on natural text (max df 4 at sf0.01),
    * so the cap is inert at test SFs and bites only on pathological
    * boilerplate at 100 TB — and the oracle replays it bit-identically, so
    * the gate stays valid at scales where it is ACTIVE. */
  private[graft] val MaxGramDf = 1000

  /** Posting cap for the persisted LSH band index's candidate join
    * (VERDICT r16 missing #2 — the one remaining unbounded fan-out): a
    * band key with more than MaxBandPop corpus postings is excluded from
    * [[incrementalDedup]]'s candidate generation, bounding every ingest's
    * candOld fan-out at batch-hits × cap per band instead of growing with
    * the hot band's population forever (a boilerplate-heavy corpus
    * otherwise makes EVERY future day's candidate join pay the hot band).
    * Same recall contract as [[MaxGramDf]]: a (new, old) near-dup pair is
    * proposed through ANY shared band, so it is missed only when every
    * shared band is that hot — i.e. only batch docs duplicating corpus-
    * saturated boilerplate slip through, exactly the content a 100 TB
    * recipe caps away deliberately. Inert at the gate scales (max band pop
    * ≈ planted-dup cluster sizes, single digits) and replayed
    * bit-identically in the d12/p2/p3 oracles, so the gate stays valid at
    * scales where it is ACTIVE. */
  private[graft] val MaxBandPop = 1000

  /** d14 pipeline on any (doc_id, text) frame: EXACT cross-doc duplicated
    * token spans (>= [[SpanLen]] tokens) at arbitrary offsets — the
    * Lee-et-al. substring-dedup semantics, re-expressed shuffle-friendly.
    * Lee et al. build a single-node suffix array; the distributed
    * equivalent is an all-position k-gram posting index: one shuffle keyed
    * by gram hash (the self-join), then one keyed by (pair, diagonal) to
    * merge consecutive matches into maximal spans (gaps-and-islands: grams
    * of one shared span sit on one diagonal a_pos - b_pos at consecutive
    * a_pos, so a_pos - row_number() is constant per island — no iterative
    * extension pass needed, and the whole shape is oracle-expressible).
    * Postings are O(total tokens) rows — linear, like tokenization itself;
    * the 100 TB shuffle-volume dial is [[substringDedupSampledOf]], the
    * content-defined anchor twin. Output: one row per MAXIMAL shared span,
    * (doc_a, doc_b, a_pos, b_pos, span_len), positions 0-based token
    * offsets, pairs ordered doc_a < doc_b. Gram-hash collisions (P ~ 2^30)
    * are ~1e-4-rare and identical in both engines — the d2 convention. */
  private[queries] def substringDedupOf(documents: DataFrame): DataFrame =
    spansFromCapped(cappedGramPostings(documents, SpanLen))

  /** Raw all-position gram postings of a derived doc set — the shared
    * staging input when a composed flow needs BOTH the exact span build and
    * the anchor dial over one materialized gram scan (p4/p4-anchored). */
  private[queries] def rawGramPostings(documents: DataFrame): DataFrame =
    allGramPostings(documents, SpanLen)

  /** Exact maximal spans from an already-staged raw posting frame (the
    * caller stages [[rawGramPostings]]): [[substringDedupOf]]'s pipeline
    * with the gram scan materialized once. */
  private[queries] def spansFromRaw(raw: DataFrame): DataFrame =
    spansFromCapped(capPostings(raw, MaxGramDf))

  /** The d16 anchor-dial spans from an already-staged raw posting frame:
    * anchor filter (a property of the gram hash, so applied AFTER staging —
    * one gram scan serves both variants), the df cap (binds identically to
    * the exact variant's, see [[cappedAnchorPostings]]), island-collapsed
    * candidates, exact bidirectional extension. Same output schema and
    * exact-maximal-interval contract as [[spansFromRaw]]; recall is the
    * documented [[AnchorStride]] dial. */
  private[queries] def anchorSpansFromRaw(documents: DataFrame, raw: DataFrame,
                                          stride: Int = AnchorStride): DataFrame =
    substringDedupFrom(documents,
      capPostings(raw.where(pmod(col("h"), lit(stride)) === 0), MaxGramDf))

  private[queries] def spansFromCapped(capped: DataFrame): DataFrame = {
    val K = SpanLen
    val m = capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("a_pos"), col("b.pos").as("b_pos"))
      .withColumn("diag", col("a_pos") - col("b_pos"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("a_pos")
    m.withColumn("isl", col("a_pos") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "isl")
      .agg(min("a_pos").cast("long").as("a_pos"),
        min("b_pos").cast("long").as("b_pos"),
        (count(lit(1)) + (K - 1)).as("span_len"))
      .select("doc_a", "doc_b", "a_pos", "b_pos", "span_len")
  }

  /** All-position gram postings with the [[MaxGramDf]] cap applied via
    * aggregate-then-semi-join — d2's df-cap idiom, NOT a Window over the
    * postings. `groupBy("h").count()` partially aggregates map-side, so a
    * pathological boilerplate gram (millions of postings — exactly what the
    * cap exists for) collapses to one row per map partition before the
    * shuffle; a `count().over(Window.partitionBy("h"))` would instead ship
    * and buffer the hot gram's ENTIRE posting list in one task before the
    * filter could drop it, making the guard itself the straggler. The
    * semi-join re-keys postings by h — the same partitioning the candidate
    * self-join needs next, so the exchange is reused, not added. */
  private[queries] def cappedGramPostings(documents: DataFrame, K: Int,
                                          maxDf: Int = MaxGramDf): DataFrame =
    capPostings(allGramPostings(documents, K), maxDf)

  /** Same cap, same idiom, over the mod-sampled anchor postings of the
    * 100 TB twin. Anchor-ness is a property of the gram (all postings of a
    * gram share its hash), so a gram's df among anchors equals its full df
    * and the cap binds identically to the exact variant's. */
  private[graft] def cappedAnchorPostings(documents: DataFrame, K: Int,
                                          stride: Int,
                                          maxDf: Int = MaxGramDf): DataFrame =
    capPostings(allGramPostings(documents, K)
      .where(pmod(col("h"), lit(stride)) === 0), maxDf)

  /** The df cap as a reusable stage over any (doc_id, pos, h) posting
    * frame — the aggregate-then-semi-join idiom (see [[cappedGramPostings]]
    * for why never a Window). */
  private[graft] def capPostings(postings: DataFrame, maxDf: Int): DataFrame = {
    val rare = postings.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("h")
    postings.join(rare, Seq("h"), "left_semi")
  }

  /** Memoized RAW all-position gram postings per (session, dir) — the
    * substring family's shared staging: the gram scan (tokenize + hash
    * every position, the family's heaviest map stage) otherwise re-executes
    * on every consuming branch — the cap's df aggregate, its semi-join
    * probe, and both sides of the candidate self-join, in BOTH the exact
    * (d14/d15) and anchor (d16 — one filter over the same blocks) variants.
    * Measured at sf0.1: spans build 3.0 → 1.5 s, d16 2.8 → 1.6 s. At
    * 100 TB the same staging is a persisted postings table (the d2 shCache
    * rationale). Freed via [[clearCaches]]. */
  private val gramCache = new SessionCache[String]

  private def gramPostings(s: SparkSession, d: String): DataFrame =
    gramCache.getOrElseUpdate(s, d)(SharedBuilds.timed("gram_postings")(
      allGramPostings(docs(s, d), SpanLen).eagerCheckpoint()))

  /** (doc_id, pos, h): the K-gram posting at every 0-based token offset. */
  private def allGramPostings(documents: DataFrame, K: Int): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .where(size(col("ws")) >= K)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("ws")) - K),
          i => polyHash(concat_ws(" ", slice(col("ws"), i + 1, lit(K))))))
          .as(Seq("pos", "h")))

  /** Content-defined anchor stride for the d14 100 TB twin: a gram is an
    * anchor iff hash % stride == 0 — shift-invariant (both copies of a
    * shared span select the SAME grams), so recall per shared span of
    * length L is 1 - (1 - 1/stride)^(L - SpanLen + 1), independent of
    * alignment. stride=4 reads ~0.99 at L = 2x SpanLen. */
  private[graft] val AnchorStride = 4

  /** Longest common prefix of two token arrays (zip_with pads the shorter
    * side with nulls; null <=> token is false, so the scan stops there) —
    * the d16 extension primitive, shared with the streaming anchor probe. */
  private[graft] def lcpTokens(x: Column, y: Column): Column = {
    val p = array_position(zip_with(x, y, (a, b) => a <=> b), lit(false))
    when(p === 0, least(size(x), size(y)).cast("long")).otherwise(p - 1)
  }

  /** Raw anchor-hash collision pairs with their diagonal — the d16
    * candidate join's input BEFORE island collapse (exposed so the planted
    * long-span spec can assert the collapse ratio directly). One row per
    * colliding (anchor-in-a, anchor-in-b) pair. */
  private[queries] def anchorPairHits(documents: DataFrame, stride: Int): DataFrame =
    anchorPairHitsOf(cappedAnchorPostings(documents, SpanLen, stride))

  private def anchorPairHitsOf(anchors: DataFrame): DataFrame =
    anchors.as("a").join(anchors.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("a_pos"), col("b.pos").as("b_pos"),
        (col("a.pos") - col("b.pos")).as("diag"))

  /** ONE extension candidate per same-diagonal anchor ISLAND (VERDICT r14
    * #1 — the d16 plan defect): a shared span of length L contains ~L/stride
    * anchors, ALL of which collide on the same diagonal a_pos - b_pos, and
    * extending each one independently re-derived the SAME maximal span
    * ~L/stride times with both docs' full token arrays shipped per
    * candidate — O(L²/stride) token compares and O(L·doc_len/stride)
    * shuffled bytes per span, a quadratic wall on exactly the
    * boilerplate-heavy corpora this variant exists for. Two anchors on one
    * diagonal at gap <= K sit on overlapping/adjacent matched grams, so the
    * tokens between them provably match — they are in the SAME maximal
    * span and extension from either reaches identical bounds. Collapse is
    * therefore: per (doc_a, doc_b, diag), sort the anchor positions and
    * keep only ISLAND STARTS (previous anchor more than K back). Anchors
    * of one true span that straddle a > K anchor gap land in separate
    * islands; each extends to the same maximal bounds and the downstream
    * `.distinct()` merges them — output provably identical to per-anchor
    * extension, work O(L) per span, one token-array join row per island.
    * The one non-identity window is a ~1e-4-rare gram-hash COLLISION
    * landing within K on the same diagonal (the "provably one span" step
    * assumes gram match ⇒ token equality), so the ORACLE replays this
    * island rule verbatim (sorted per-diagonal positions, first-in-island
    * filter) — both engines merge even a collision identically, keeping
    * the d2 gate-valid-at-any-scale convention.
    *
    * Shape: the islands pass is a row-local indexed `filter` over each
    * diagonal's collected position array — per-group state is O(anchors on
    * the diagonal) ≈ L/stride (the d15 owed-interval bound), the groupBy
    * combines map-side, and NO Window buffers a posting stream
    * (PlanSpec-pinned: the sampled twin plans zero Window nodes). */
  private[queries] def anchorIslandCandidates(documents: DataFrame, stride: Int): DataFrame =
    anchorIslandCandidatesOf(cappedAnchorPostings(documents, SpanLen, stride))

  private def anchorIslandCandidatesOf(capped: DataFrame): DataFrame =
    anchorPairHitsOf(capped)
      .groupBy("doc_a", "doc_b", "diag")
      .agg(array_sort(collect_list(col("a_pos"))).as("ps"))
      .select(col("doc_a"), col("doc_b"), col("diag"),
        explode(expr(
          s"filter(ps, (p, i) -> i = 0 OR p - element_at(ps, i) > $SpanLen)")).as("a_pos"))
      .select(col("doc_a"), col("doc_b"), col("a_pos"),
        (col("a_pos") - col("diag")).as("b_pos"))

  /** The 100 TB scale twin of [[substringDedupOf]]: mod-sampled
    * content-defined anchors cut the gram-hash shuffle (and the join's
    * per-key fan-out) by ~stride×; surviving candidates — collapsed to one
    * per same-diagonal anchor island by [[anchorIslandCandidates]], so a
    * long shared span costs ONE extension, not one per anchor — are
    * verified AND maximally extended by exact bidirectional token
    * comparison against the two docs' token arrays (island candidates are
    * one-per-span-ish, so carrying the arrays through the join is cheap).
    * Every emitted span is exact and maximal; the tradeoff is bounded
    * recall (see [[AnchorStride]]), the standard winnowing-style dial.
    * Spec-pinned equal to the exact variant on the planted fixtures and on
    * sf0.001.
    *
    * The [[MaxGramDf]] posting cap applies here too — without it the
    * scale twin would carry exactly the hot-boilerplate cap² blow-up the
    * exact variant guards against. Anchor-ness is a property of the GRAM
    * (all postings of a gram share its hash), so a gram's df among
    * anchors equals its full df and the cap binds identically. Caveat
    * when the cap is ACTIVE: the exact variant SPLITS a span at a capped
    * gram, while this variant's token-compare extension runs THROUGH it —
    * the sampled span can then be the unsplit maximal one (a superset
    * interval of the exact variant's two halves). At test SFs the cap is
    * inert and the row-subset property is exact. */
  private[graft] def substringDedupSampledOf(documents: DataFrame,
                                             stride: Int = AnchorStride): DataFrame =
    substringDedupFrom(documents, cappedAnchorPostings(documents, SpanLen, stride))

  /** The gated d16: same pipeline, the anchor frame derived by filtering
    * the session's staged [[gramPostings]] blocks (ONE gram scan shared
    * with the d14/d15 span build; the cap's df aggregate, its semi-join
    * probe, and both candidate self-join sides all read materialized
    * blocks). */
  private def substringDedupSampledStaged(s: SparkSession, d: String): DataFrame =
    substringDedupFrom(docs(s, d), capPostings(
      gramPostings(s, d).where(pmod(col("h"), lit(AnchorStride)) === 0), MaxGramDf))

  private[queries] def substringDedupFrom(documents: DataFrame, capped: DataFrame): DataFrame = {
    val K = SpanLen
    val toksDf = documents
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .where(size(col("ws")) >= K)
    val cand = anchorIslandCandidatesOf(capped)
    val lcp = lcpTokens _
    cand
      .join(toksDf.select(col("doc_id").as("doc_a"), col("ws").as("wa")), Seq("doc_a"))
      .join(toksDf.select(col("doc_id").as("doc_b"), col("ws").as("wb")), Seq("doc_b"))
      .withColumn("ext_l", lcp(reverse(slice(col("wa"), lit(1), col("a_pos"))),
                               reverse(slice(col("wb"), lit(1), col("b_pos")))))
      .withColumn("ext_r", lcp(
        slice(col("wa"), col("a_pos") + K + 1, size(col("wa"))),
        slice(col("wb"), col("b_pos") + K + 1, size(col("wb")))))
      .select(col("doc_a"), col("doc_b"),
        (col("a_pos") - col("ext_l")).cast("long").as("a_pos"),
        (col("b_pos") - col("ext_l")).cast("long").as("b_pos"),
        (col("ext_l") + col("ext_r") + K).as("span_len"))
      .distinct()
  }

  /** d15: the CONSUMABLE artifact of substring dedup — the corpus rewritten
    * with later-occurrence duplicated spans CUT (Lee et al. end the pass by
    * removing all but one occurrence of each duplicated substring; d14's
    * span report is the intermediate, this is the deliverable a curation
    * run feeds to training). Keep-first policy: for every d14 span
    * (doc_a < doc_b) the doc_b copy is cut — the minimum-id occurrence
    * survives, the d3/d10 keep-rule family. A doc may owe cuts to many
    * partners and the intervals may overlap — popular boilerplate can owe
    * THOUSANDS of near-identical intervals — so the collected array is
    * first folded into sorted DISJOINT merged intervals inside the same
    * row-local stage (VERDICT r14 #2: the raw per-token `exists` scanned
    * the full raw array per token, O(tokens × owed-intervals) per doc;
    * merging makes it O(s log s + tokens × merged), with merged bounded by
    * the doc's length/SpanLen). Coverage is preserved exactly — a token is
    * inside some raw interval iff it is inside some merged one — so the
    * rewrite is byte-identical (spec-pinned on a 1200-overlapping-interval
    * fixture). Token pos is cut iff ANY merged interval covers it, an
    * `exists` over the doc's interval array, row-local after one
    * doc_id-keyed groupBy of the spans (O(spans) rows — the tiny end of
    * the pipeline). Within-doc self-repetition is out of scope (d14 emits
    * cross-doc pairs only).
    *
    * Output: one row per input doc — (doc_id, n_tokens, n_cut, text) with
    * the rewritten token stream (original docs with no cuts pass through
    * verbatim; a fully-duplicated doc rewrites to the empty string).
    *
    * 100 TB notes: beyond the shared d14 span build the added work is one
    * groupBy over span rows plus a row-local filter over each doc's token
    * array — O(corpus tokens) map-side, no extra wide shuffle. Production
    * runs it off the PERSISTED span report, so cut-and-rewrite is a single
    * map pass over the corpus join the tiny interval table. */
  private[queries] def substringCutOf(documents: DataFrame, spans: DataFrame): DataFrame = {
    val iv = spans
      .select(col("doc_b").as("doc_id"), col("b_pos").as("st"),
        (col("b_pos") + col("span_len")).as("en"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("st"), col("en"))).as("iv0"))
      // sort + fold into disjoint merged intervals (st/en are the spans'
      // long positions; array_sort on the struct orders by st, then en).
      // Overlapping OR adjacent intervals union — token coverage identical.
      .select(col("doc_id"), expr(
        """aggregate(array_sort(iv0),
          |  cast(array() as array<struct<st:bigint,en:bigint>>),
          |  (acc, v) -> CASE
          |    WHEN size(acc) > 0 AND v.st <= element_at(acc, -1).en THEN
          |      CASE WHEN v.en > element_at(acc, -1).en
          |           THEN concat(slice(acc, 1, size(acc) - 1),
          |                       array(named_struct('st', element_at(acc, -1).st,
          |                                          'en', v.en)))
          |           ELSE acc END
          |    ELSE concat(acc, array(v)) END)""".stripMargin).as("iv"))
    documents
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .join(iv, Seq("doc_id"), "left")
      // exists over a NULL interval array is NULL; the coalesce keeps every
      // token of a doc that owes no cuts
      .withColumn("kept", expr(
        "filter(ws, (t, i) -> NOT coalesce(exists(iv, v -> i >= v.st AND i < v.en), false))"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("kept"))).cast("long").as("n_cut"),
        concat_ws(" ", col("kept")).as("text"))
  }

  private[queries] def substringCutOf(documents: DataFrame): DataFrame =
    substringCutOf(documents, substringDedupOf(documents))

  /** (doc_id, bkey) LSH band keys of a (doc_id, sh) shingle-set frame.
    * Signature = one codegen'd pass (graft.functions.MinHashSignature)
    * updating NumHashes running minima per doc, staged in its own Project so
    * the band slices reference the bound column, not `bands` recomputations.
    *
    * `bands` x `rowsPerBand` is the recall/precision dial a production dedup
    * pass tunes (P(candidate at similarity j) = 1-(1-j^rows)^bands): more
    * bands with shorter rows raises recall at lower similarity (and
    * candidate volume); fewer, longer bands sharpens the threshold. The
    * defaults (8x4 over the 32-hash signature) are the gated d3 setting;
    * DedupSpec pins that the planted ≥0.9-Jaccard dups survive a 16x2
    * re-dial. Must satisfy bands*rowsPerBand <= NumHashes. */
  private[queries] def lshBands(sh: DataFrame, bands: Int = NumBands,
                                rowsPerBand: Int = RowsPerBand): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= NumHashes,
      s"banding $bands x $rowsPerBand exceeds the $NumHashes-hash signature")
    sh.select(col("doc_id"), minhashSignature(col("sh")).as("sig"))
      .select(
        col("doc_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"),
        col("sig"))
      .select(col("doc_id"),
        concat_ws(":", col("band"),
          array_join(transform(
            slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string")), "-")).as("bkey"))
  }

  /** The default-dial band keys as [[graft.text.TextFunctions.NumBands]]
    * ROW-LOCAL columns over a staged signature column (no explode, no
    * shuffle) — the probe shape the STREAMING admission twin needs: one
    * arriving doc stays one row, its band keys become join columns against
    * the persisted index. Byte-identical format to [[lshBands]]'s `bkey`
    * (spec-pinned), so a row-shaped probe joins the same index a batch
    * ingest appends to. NULL key when the shingle set is empty (a <K-token
    * doc collides with nothing — every equi-join misses on NULL). Callers
    * stage `sig` in its own projection (the [[lshBands]] recomputation
    * hazard). */
  private[graft] def bandKeyCols(sig: Column, sh: Column): Seq[Column] =
    (0 until NumBands).map { b =>
      when(size(sh) > 0,
        concat_ws(":", lit(b),
          array_join(transform(slice(sig, b * RowsPerBand + 1, RowsPerBand),
            _.cast("string")), "-")))
    }

  /** The full d3 pipeline on a (doc_id, sh) shingle frame, parametric in the
    * banding dial: band-bucket candidate join, exact-Jaccard verification at
    * `threshold`. The gated key runs the 8x4 default. */
  private[queries] def minhashLshOf(sh: DataFrame, bands: Int = NumBands,
                                    rowsPerBand: Int = RowsPerBand,
                                    threshold: Double = JaccardT): DataFrame =
    minhashLshFrom(lshBands(sh, bands, rowsPerBand), sh, threshold)

  /** d3 on a PRE-BUILT (doc_id, bkey) band index + its (doc_id, sh) shingle
    * frame (r18, guide §2.4): callers holding a staged/persisted index —
    * the session [[bandIndex]], a [[readBandIndexVersioned]] snapshot, or a
    * doc_id-filtered slice of either (band keys are per-doc row-local, so a
    * filtered index IS the index of the filtered corpus) — skip the
    * signature recompute entirely. Caller contract: `bk` must be
    * [[lshBands]]-shaped over exactly `sh`'s docs at the default dial. */
  private[queries] def minhashLshFrom(bk: DataFrame, sh: DataFrame,
                                      threshold: Double = JaccardT): DataFrame = {
    val cand = bk.as("a").join(bk.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .where(jaccard(col("sa"), col("sb")) >= threshold)
      .select(col("doc_a"), col("doc_b"), jaccard(col("sa"), col("sb")).as("jaccard"))
  }

  /** The corpus's persistable LSH band index: (doc_id, bkey) — ONE row per
    * doc per band. This is the table a production ingest writes once per
    * admitted batch (a plain parquet write) and re-reads
    * on the next batch, so the corpus's text is never re-shingled wholesale;
    * pass it to [[incrementalDedup]] as `oldIndex`. */
  def lshBandIndex(docs: DataFrame): DataFrame = lshBands(shingleSetsOf(docs))

  /** Append an admitted batch's band keys to the persisted index — the write
    * half of the production ingest loop: after [[incrementalDedup]] admits a
    * batch, call this so the NEXT batch's band join sees today's admissions.
    * Parquet append: O(admitted × bands) rows written, the corpus index is
    * never rewritten. (Idempotence is the caller's: append once per admitted
    * batch. A crashed ingest re-appends harmlessly — duplicate (doc_id, bkey)
    * rows only re-propose the same candidates, which verify identically.) */
  def appendBandIndex(admitted: DataFrame, indexPath: String): Unit =
    lshBandIndex(admitted).write
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(indexPath)

  /** VERSIONED-publish twin of [[appendBandIndex]] (VERDICT r14 missing
    * #2): on rename-less object stores an in-place parquet append is racy —
    * a reader (the always-on admission stream, tomorrow's d12 batch) can
    * list a segment's files mid-write. This writes the batch's band keys as
    * a fresh IMMUTABLE segment and publishes a [[graft.sources.Manifests]]
    * pointer naming the complete segment set, so [[readBandIndexVersioned]]
    * resolves whole versions only — read-old-or-new-never-half on every
    * scheme. Same single-appender contract as the IVF stats file
    * ([[Manifests.appendSegment]]'s scaladoc); concurrent readers safe.
    * Returns the manifest number published. */
  def appendBandIndexVersioned(admitted: DataFrame, root: String): Long =
    graft.sources.Manifests.appendSegment(lshBandIndex(admitted), root)

  /** The (doc_id, bkey) index under a versioned root — the union of the
    * current manifest's segments; pass to [[incrementalDedup]] as
    * `oldIndex`. Resolution happens once, driver-side: a held frame is a
    * consistent snapshot; re-call to pick up later appends. */
  def readBandIndexVersioned(s: SparkSession, root: String): DataFrame =
    graft.sources.Manifests.readSegments(s, root)

  /** INCREMENTAL dedup — the daily-ingest shape: admit only the docs of a
    * NEW batch that (a) belong to no in-batch similarity CLUSTER that
    * touches the EXISTING corpus, and (b) are the representative (min
    * doc_id) of their cluster — connected components over the batch's
    * verified pair graph, exactly d6's clustering run on one day's data.
    * Cluster-min (not pairwise-greedy) keeps the policy well-defined on
    * similarity CHAINS: for 11≈12≈13 with 11,13 dissimilar, the whole chain
    * is one cluster and only 11 is admitted. Corpus contamination is
    * cluster-transitive in BOTH directions (ADVICE r06): whether the
    * corpus-matching doc is the representative or any member, the whole
    * cluster is rejected — its members are all transitively similar to
    * corpus content.
    *
    * 100 TB notes: the existing corpus participates ONLY through its
    * (doc_id, band-key) LSH index and the shingle sets of the few candidate
    * matches — O(corpus × bands) tiny index rows joined by band key, and the
    * corpus is NEVER re-paired against itself (the whole point vs re-running
    * d3 over old ∪ new: a T-byte corpus with a G-byte daily batch does
    * O(G·bands) join work per day, not O(T²) pair work). Bands hotter than
    * `maxBandPop` corpus postings are excluded from candidate generation
    * (the [[MaxBandPop]] recall dial, r17) so the per-ingest candidate
    * volume stays bounded at hits × cap per band even on a boilerplate-
    * heavy corpus. Pass the persisted
    * index (see [[lshBandIndex]]) as `oldIndex`; corpus TEXT is then touched
    * only for the band-collision candidates — a semi-join narrows `oldDocs`
    * to those few doc_ids before shingling. With `oldIndex` empty the index
    * derives from `oldDocs` in-session (self-contained spec shape). The
    * batch-side shingle/band frames are checkpointed — each feeds 2-3 join
    * branches, and unstaged the codegen hash scans re-execute per branch
    * (the shCache hazard above). */
  def incrementalDedup(oldDocs: DataFrame, newDocs: DataFrame,
                       oldIndex: Option[DataFrame] = None,
                       maxBandPop: Int = MaxBandPop,
                       oldShingles: Option[DataFrame] = None,
                       newShingles: Option[DataFrame] = None,
                       newBandIndex: Option[DataFrame] = None): DataFrame = {
    // Staged-shingle fast path (r18): callers holding materialized
    // (doc_id, sh) frames for either side — the session shingleSets
    // checkpoint filtered to the split, or the day-1 corpus shingle stage —
    // pass them here and the gate derives bands/candidate sets from the
    // blocks instead of re-running the shingle-hash scan + 32-hash minhash
    // over the text. Caller contract: a supplied frame must EQUAL
    // shingleSetsOf(its side's docs) row for row (shingling is per-doc and
    // deterministic, so any doc_id-filtered slice of a full-corpus shingle
    // table qualifies); supplied frames are trusted to be staged and are
    // not re-checkpointed.
    val newSh = newShingles.getOrElse(shingleSetsOf(newDocs).eagerCheckpoint())
    val oldIdx = oldIndex.getOrElse(
      lshBands(oldShingles.getOrElse(shingleSetsOf(oldDocs))))
    // newBandIndex: same staged-slice contract as oldIndex, for the batch
    // side (must equal lshBands(shingleSetsOf(newDocs)) at the default dial)
    val newBands = newBandIndex.getOrElse(lshBands(newSh).eagerCheckpoint())
    val cappedIdx = capBandIndex(oldIdx, maxBandPop)
    // candidate (new, old) pairs from band collisions — tiny; checkpointed
    // because it feeds both the semi-join below and the verify join
    val candOld = newBands.as("n")
      .join(cappedIdx.as("o"), col("n.bkey") === col("o.bkey"))
      .select(col("n.doc_id").as("doc_new"), col("o.doc_id").as("doc_old"))
      .distinct()
      .eagerCheckpoint()
    // Contract check (ADVICE r07): every indexed candidate must have corpus
    // text in oldDocs — a stale/partial index would otherwise SILENTLY drop
    // its candidates at the inner joins below and admit near-duplicates of
    // unseen corpus content. O(candidates) anti-join, one small job.
    val candIds = candOld.select(col("doc_old").as("doc_id")).distinct()
    val missing = candIds.join(oldDocs.select("doc_id"), Seq("doc_id"), "left_anti").count()
    require(missing == 0L,
      s"incrementalDedup: $missing band-index candidate doc_id(s) have no corpus " +
        "text in oldDocs — the index is stale or oldDocs is partial; refusing to " +
        "admit (near-duplicates of the missing corpus content could slip through)")
    // shingle ONLY the candidate corpus docs (O(candidates), not O(corpus));
    // with a staged corpus shingle frame, read the candidates' sets from it
    val oldCandSh = oldShingles match {
      case Some(osh) => osh.join(candIds, "doc_id")
      case None      => shingleSetsOf(oldDocs.join(candIds, "doc_id"))
    }
    val dupVsOld = candOld
      .join(newSh.select(col("doc_id").as("doc_new"), col("sh").as("sn")), "doc_new")
      .join(oldCandSh.select(col("doc_id").as("doc_old"), col("sh").as("so")), "doc_old")
      .where(jaccard(col("sn"), col("so")) >= JaccardT)
      .select("doc_new")
      .eagerCheckpoint() // feeds the anti-join AND the contaminated-rep lookup
    val batchPairs = newBands.as("a").join(newBands.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(newSh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(newSh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .where(jaccard(col("sa"), col("sb")) >= JaccardT)
      .select("doc_a", "doc_b")
    // cluster the batch's pair graph; every non-representative node has an
    // assignment row (rep-has-no-row invariant) — those are the in-batch dups
    val member = graft.ccf.CCF.run(batchPairs).assignments
      .select(col("node").as("doc_new"), col("component").as("cl"))
    val dupInBatch = member.select("doc_new")
    // whole-cluster corpus rejection: the representative of any cluster with
    // a corpus-matching member is dropped too (members are already in
    // dupInBatch). A corpus-matching singleton/rep maps to itself — its
    // coalesce row duplicates dupVsOld's, deduped by the final distinct.
    val contaminatedReps = dupVsOld.join(member, Seq("doc_new"), "left")
      .select(coalesce(col("cl"), col("doc_new")).as("doc_new"))
    newDocs.join(dupVsOld.union(dupInBatch).union(contaminatedReps).distinct(),
      newDocs("doc_id") === col("doc_new"), "left_anti")
  }

  /** The [[MaxBandPop]] hot-band cap applied to a (doc_id, bkey) index:
    * aggregate the per-band populations map-side, semi-join the postings
    * against the bands under the cap — the MaxGramDf aggregate-then-
    * semi-join shape. The aggregate is one linear combinable pass over
    * index rows the candidate join reads anyway; without the cap a hot
    * band's candidate fan-out grows with its corpus population on EVERY
    * ingest, before the Jaccard verify can bound anything. */
  private[graft] def capBandIndex(idx: DataFrame, cap: Int): DataFrame = {
    val coldBands = idx.groupBy("bkey").agg(count(lit(1)).as("bpop"))
      .where(col("bpop") <= cap).select("bkey")
    idx.join(coldBands, Seq("bkey"), "left_semi")
  }

  /** Exact-Jaccard on a pair of shingle-set columns (distinct sets). */
  private def jaccard(sa: Column, sb: Column): Column =
    size(array_intersect(sa, sb)).cast("double") /
      (size(sa) + size(sb) - size(array_intersect(sa, sb)))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group identical text by its SHA-256, keep the smallest
    // doc_id per group, join the keeper back on the digest. This is the
    // 100 TB shape outright (r14 — previously a Window.partitionBy(text)
    // test-scale concession): the groupBy min is map-side combinable, so a
    // million-fold duplicated text collapses to one row per map partition
    // instead of buffering the whole group in one task, and the shuffles
    // carry 32-byte digests + ids, never document text. Keeper-side join
    // input is one row per distinct text. Equivalence to grouping by text
    // itself is modulo SHA-256 collisions — the standard production
    // assumption; the oracle keeps PARTITION BY text, which agrees on every
    // input unless such a collision exists.
    "d1_exact_dedup" -> ((s, d) => {
      val withH = docs(s, d).select(col("doc_id"), sha2(col("text"), 256).as("h"))
      val keepers = withH.groupBy("h").agg(min("doc_id").as("keeper_id"))
      withH.join(keepers, "h")
        .select(col("doc_id"), col("keeper_id"),
          (col("doc_id") =!= col("keeper_id")).as("is_dup"))
    }),

    // n-gram Jaccard near-dup via shingle inverted index: explode shingles,
    // drop hot postings (df > MaxShingleDf — the scale-killer guard), self-join
    // the capped index for candidates, verify each with exact Jaccard over the
    // full sets. No cross join — candidate pairs only exist where at least one
    // RARE shingle collides.
    "d2_ngram_jaccard" -> ((s, d) => jaccardPairs(s, d)),

    // MinHash + LSH banding: constant-size signatures, band-bucket join for
    // candidates, exact-Jaccard verification. 8 bands x 4 rows: P(candidate)
    // = 1-(1-j^4)^8 — near-certain recall at the ≥0.9 planted dups.
    // Signature = one codegen'd pass (graft.functions.MinHashSignature)
    // updating 32 running minima per doc; staged in its own Project so the
    // band slices below reference the bound column, not 8 recomputations.
    // r18: candidates from the memoized session band index (one minhash
    // materialization shared with d12) instead of re-signing per query
    "d3_minhash_lsh" -> ((s, d) => minhashLshFrom(bandIndex(s, d), shingleSets(s, d))),

    // SimHash document fingerprint (32-bit): token-hash bit votes → sign bits.
    // On this shared-vocabulary synthetic corpus SimHash has poor precision
    // (distinct docs collide at hamming 0) — kept as the fingerprint operator
    // it is; Jaccard/MinHash are the precise near-dup paths here.
    "d4_simhash" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .select(col("doc_id"), polyHash(col("w")).as("h"))
        .groupBy("doc_id")
        .agg(simhashBitSums(col("h")).head, simhashBitSums(col("h")).tail: _*)
        .select(col("doc_id"), simhashFromBitSums.as("simhash"))),

    // SimHash near-dup pairs: hamming distance via bit_count(xor) ≤ 1,
    // found by hamming-banding (pigeonhole): split the 32-bit fingerprint
    // into two 16-bit chunks — any pair at hamming ≤ 1 differs in at most
    // one chunk, so it agrees EXACTLY on the other. Equi-join on
    // (chunk_idx, chunk_value) yields every qualifying pair (this is exact
    // recall, not approximate), then verify the full distance. Shuffles
    // O(docs x 2) rows keyed by chunk instead of the n²/2 nested-loop the
    // pair predicate alone would plan — the scale path at 100 TB. Pairs at
    // hamming 0 match on both chunks, hence the final distinct.
    "d4_simhash_pairs" -> ((s, d) => {
      val sh = defs("d4_simhash")(s, d)
      val chunks = sh.select(col("doc_id"), col("simhash"),
        explode(array(
          struct(lit(0).as("ci"), col("simhash").bitwiseAND(lit(65535L)).as("cv")),
          struct(lit(1).as("ci"), shiftright(col("simhash"), 16).as("cv")))).as("c"))
        .select(col("doc_id"), col("simhash"), col("c.ci").as("ci"), col("c.cv").as("cv"))
      chunks.as("a").join(chunks.as("b"),
          col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
        .where(col("hamming") <= 1)
        .distinct()
    }),

    // Near-dup CLUSTERS: CCF connected components over the similarity-pair
    // graph (SURVEY.md §2c: near-dup clustering IS connected components — the
    // one extension that genuinely reuses the reference's core). Each doc in
    // a duplicate cluster is labeled with the smallest doc_id in its cluster;
    // singletons (no near-dup) have no row (the rep-has-no-row invariant).
    "d6_dup_clusters" -> ((s, d) => {
      val pairs = jaccardPairs(s, d).select("doc_a", "doc_b")
      graft.ccf.CCF.run(pairs).assignments.toDF("doc_id", "cluster_rep")
    }),

    // Embedding near-dup, LSH-bucketed scale path: candidate pairs share a
    // hyperplane-sign bucket (O(n) shuffle keyed by bucket, no all-pairs),
    // then exact cosine verification. Approximate by construction (pairs
    // crossing a bucket boundary are missed) but fully deterministic — the
    // oracle replicates the bucketing bit for bit. At 100 TB this shape,
    // with more planes + multi-probe, is the production near-dup join.
    "d7_embedding_neardup_lsh" -> ((s, d) => {
      val e = embs(s, d).select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.norm(col("embedding")).as("nrm"),
        graft.functions.VectorFunctions.lshBucket(col("embedding"), 8, 64).as("bkt"))
      e.as("a").join(e.as("b"),
          col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          (graft.functions.VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))).as("cos"))
        .where(col("cos") >= NearDupT)
    }),

    // Passage-level exact dedup (the RefinedWeb/CCNet sub-document pass):
    // cut each doc into non-overlapping 16-token passages, hash each, and
    // mark every occurrence after the global first (order: (doc_id, pos))
    // as a duplicate. Reported per doc: passage count + duplicated count.
    //
    // Shape: posexplode → ONE shuffle keyed by passage hash with a
    // min-over-hash-partition window (no orderBy inside the frame — the
    // window sorts by hash only, and beats the groupBy+self-join
    // alternative's two full shuffles of the passage stream). Passage
    // hashes are near-unique (16 tokens), so there is no hot-key skew by
    // construction — the reason this operator needs no df cap while d2's
    // 3-gram index does.
    "d8_passage_dedup" -> ((s, d) => passageDedupOf(docs(s, d))),

    // ENSEMBLE near-dup: the union of the text signal (d2's capped-verified
    // Jaccard pairs) and the embedding signal (d7's LSH-bucketed cosine
    // pairs) over the shared id space, with per-pair provenance flags — the
    // composition a production dedup pass actually ships (surface-form AND
    // semantic duplicates, each caught by the detector suited to it). Both
    // inputs reuse their memoized/staged pipelines; the full-outer merge
    // joins two already-tiny pair sets.
    "d9_ensemble_neardup" -> ((s, d) => {
      val tp = jaccardPairs(s, d).select(col("doc_a"), col("doc_b"), col("jaccard"))
      val ep = defs("d7_embedding_neardup_lsh")(s, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), col("cos"))
      tp.join(ep, Seq("doc_a", "doc_b"), "full_outer")
        .select(col("doc_a"), col("doc_b"), col("jaccard"), col("cos"),
          col("jaccard").isNotNull.as("by_text"),
          col("cos").isNotNull.as("by_embedding"))
    }),

    // Embedding-cosine near-dup, brute-force exactness baseline. Sequential
    // left-fold dot products in double — bit-identical to the oracle. The
    // pair-generation scale path is d7 (LSH-bucketed).
    "d5_embedding_neardup" -> ((s, d) => {
      val e = embs(s, d).select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.norm(col("embedding")).as("nrm"))
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          (graft.functions.VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))).as("cos"))
        .where(col("cos") >= NearDupT)
        .select(col("vec_a"), col("vec_b"), col("cos"))
    }),

    // SEMANTIC DUP CLUSTERS (d11, r11): the cluster-collapse tail of the
    // SemDeDup recipe — connected components over the embedding near-dup
    // pair graph (d7's LSH-bucketed, exact-cosine-verified pairs), one
    // representative per cluster (min vec_id; members keep a row, the rep
    // has none — the CCF output contract). This is the transitive
    // keep-one-per-cluster d10's per-pair rule deliberately does NOT do:
    // A~B~C with cos(A,C) below threshold still collapses to one kept
    // vector here. Composition: the same CCF fixpoint engine that powers
    // d6 over text pairs, running on the vector near-dup graph.
    "d11_semantic_clusters" -> ((s, d) => {
      val pairs = defs("d7_embedding_neardup_lsh")(s, d).select("vec_a", "vec_b")
      graft.ccf.CCF.run(pairs).assignments.toDF("vec_id", "cluster_rep")
    }),

    // SEMANTIC dedup (d10, r10): cluster-then-near-dup — assign every
    // embedding to its trained k-means cell (the s6 quantizer, memoized
    // across s3/s6/s7/d10), generate candidate pairs WITHIN a cell only,
    // verify by exact cosine, and for each pair above the threshold remove
    // the member with the HIGHER cosine to its cell centroid (keeping the
    // farther-from-centroid example preserves diversity; ties to the larger
    // id). Per-vector verdict: (vec_id, cluster_id, ccos, removed).
    //
    // 100 TB notes: candidate generation is the trained quantizer's
    // broadcast argmax (one map-side pass over the corpus), then ONE
    // shuffle keyed by cid; pairwise work is Σ n_c² over cells, ~n²/k when
    // cells stay balanced — and bounded even when they don't by the
    // [[MaxCellPop]] hot-cell guard (VERDICT r10 #1): cells past the cap
    // are LSH-sub-split so per-sub-cell population stays ≤ cap in
    // expectation. Unlike d7's random-hyperplane buckets the cells adapt
    // to the data, so recall at a given candidate budget is higher. The
    // removal rule is per-pair (no transitive closure), so the whole pass
    // is join + aggregate — no fixpoint.
    "d10_semantic_dedup" -> ((s, d) =>
      semanticDedupVerdicts(centroidCosinesOf(s, d), NearDupT, MaxCellPop)),

    // INCREMENTAL dedup under the gate (d12, r12; VERDICT r11 #3): the
    // daily-ingest admission path [[incrementalDedup]] replayed over a
    // deterministic two-batch split of the corpus — even doc_ids are
    // "yesterday's corpus" (participating only through its band index +
    // candidate texts, exactly the persisted-index shape), odd doc_ids are
    // today's ingest. One verdict row per batch doc: (doc_id, admitted) —
    // admitted = not a near-dup of corpus content (cluster-transitively)
    // and the min-id representative of its in-batch dup cluster. The same
    // trajectory-replay trick s3/d10 use: the oracle recomputes the split,
    // the band collisions, the Jaccard verifications and the batch
    // cluster graph, so the production admission rule itself is
    // hash-gated, not just its batch building blocks.
    "d12_incremental_dedup" -> ((s, d) => {
      val all = docs(s, d)
      // r18: both halves' shingle sets and band keys are doc_id filters of
      // the memoized session tables (per-doc row-local derivations commute
      // with the split filter) — the gate re-shingles/re-signs nothing.
      val sh = shingleSets(s, d)
      val bk = bandIndex(s, d)
      val even = col("doc_id") % 2 === 0
      val odd = col("doc_id") % 2 === 1
      val admitted = incrementalDedup(
          all.where(even), all.where(odd),
          oldIndex = Some(bk.where(even)),
          oldShingles = Some(sh.where(even)),
          newShingles = Some(sh.where(odd)),
          newBandIndex = Some(bk.where(odd)))
        .select(col("doc_id")).withColumn("adm", lit(true))
      all.where(col("doc_id") % 2 === 1).select("doc_id")
        .join(admitted, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("adm"), lit(false)).as("admitted"))
    }),

    // INCREMENTAL semantic dedup under the gate (d13, r12; VERDICT r11
    // #3): [[IvfIndex.semanticDedupIncremental]] — d10's daily-ingest twin
    // over a PERSISTED index — replayed over the same deterministic split
    // of the embeddings: the index holds the even-vec_id posting half
    // (quantized by the shared trained centroids, so the oracle reuses the
    // Lloyd-trajectory CTEs verbatim), odd vec_ids are the batch. Verdict
    // per batch member: (vec_id, cluster_id, ccos, admitted) — rejected on
    // a same-cell corpus hit, or on losing d10's (ccos, id) keep rule to a
    // corpus-surviving batch twin. Both hot-cell guards replayed exactly.
    "d13_semantic_incremental" -> ((s, d) =>
      graft.queries.IvfIndex.semanticDedupIncremental(
        s, SimilarityQueries.incrementalIndexDir(s, d),
        SimilarityQueries.edOf(s, d).where(col("vec_id") % 2 === 1), NearDupT)),

    // EXACT substring dedup (d14, r13; VERDICT r12 #3 — the Lee-et-al.
    // cross-doc duplicated-span pass, the one published dedup modality d8
    // does not cover): maximal shared token spans >= 16 tokens at ARBITRARY
    // offsets. d8's fixed-stride passages score a 15-token-shifted copy as
    // zero duplication; this catches it (DedupSpec plants exactly that).
    // Shape: all-position gram postings → ONE shuffle keyed by gram hash
    // (df-capped, like d2) → diagonal gaps-and-islands merge to maximal
    // spans. The content-defined anchor twin [[substringDedupSampledOf]]
    // is the 100 TB shuffle-volume dial (spec-pinned equal here).
    // The span build is memoized per (session, dir): d14 reports it, d15
    // consumes it.
    "d14_substring_dedup" -> ((s, d) => substringSpans(s, d)),

    // Substring-cut rewrite (d15, r14; VERDICT r13 "What's missing" #1 —
    // d14 emitted spans but nothing consumed them): the corpus rewritten
    // with later-occurrence duplicated spans removed, keep-first policy.
    // This is the artifact Lee-et-al. substring dedup actually delivers to
    // a training run; see [[substringCutOf]] for semantics and scale shape.
    "d15_substring_cut" -> ((s, d) => substringCutOf(docs(s, d), substringSpans(s, d))),

    // The 100 TB anchor twin of d14, GATED (r14): mod-sampled content-
    // defined anchor postings (~stride× less shuffle), exact bidirectional
    // token-compare extension to maximal spans. Until now it was only
    // spec-pinned against the exact variant; the oracle replays anchor
    // selection, the df cap, and the LCP extension, so the recall dial's
    // semantics are gate-checked, not just asserted equal at stride 1.
    "d16_substring_anchors" -> ((s, d) => substringDedupSampledStaged(s, d))
  )

  /** The d10 per-vector frame (cid, vec_id, v, nrm, ccos): trained-quantizer
    * cell assignment plus the centroid cosine (the keep-rule's ranking key),
    * computed with the same sequential-fold dot the oracle replays
    * bit-for-bit. Checkpointed: it feeds BOTH sides of the pair join and the
    * verdict join, and unstaged the corpus argmax (a vec_id-keyed shuffle)
    * would re-execute per branch. */
  private[queries] def centroidCosinesOf(s: SparkSession, d: String): DataFrame = {
    val en = SimilarityQueries.enStaged(s, d) // r18: staged once
    val cents = SimilarityQueries.trainCentroids(s, d, SimilarityQueries.KMeansIters)
    val asgn = SimilarityQueries.assignCells(en, cents)
    en.join(asgn, "vec_id")
      .join(broadcast(SimilarityQueries.withCn(cents)), "cid")
      .select(col("cid"), col("vec_id"), col("v"), col("nrm"),
        (graft.functions.VectorFunctions.dot(col("v"), col("cv")) /
          (col("nrm") * col("cn"))).as("ccos"))
      .eagerCheckpoint()
  }

  /** Per-cell population of a cell-assigned frame — ≤ k rows, broadcastable. */
  private[queries] def cellPops(df: DataFrame): DataFrame =
    df.groupBy("cid").agg(count(lit(1)).as("cell_pop"))

  /** HOT-CELL GUARD (VERDICT r10 #1): add a sub-cell id `scid` to a
    * cell-assigned frame carrying an embedding column `v`.
    *
    *  - cells with ≤ `cap` members (per `pops`, or absent from it): scid 0 —
    *    the guard is INERT and the downstream (cid, scid) pair join is
    *    EXACTLY the unguarded cid join;
    *  - cells past `cap`: members scatter into nsub = ceil(pop/cap) (≤ 2¹⁶)
    *    sub-buckets by 16-plane hyperplane-LSH bucket mod nsub, so expected
    *    sub-cell population is ≤ cap and pair work per cell falls from pop²
    *    to ~pop × cap.
    *
    * The sub-bucket is an LSH code, NOT a random salt: identical vectors
    * always share a sub-cell (same bucket, same residue), and cos→1
    * near-dups share one w.h.p. — so the guard's recall loss is confined to
    * borderline pairs, and exact duplicates are never missed. A salt would
    * have to cross-join salts to keep that property, which re-creates the
    * pop² it exists to remove. All arithmetic is integer (ceil-div via
    * floor, bucket mod nsub) so the DuckDB oracle replays the guard
    * bit-for-bit at any scale — the d10 gate stays valid even where the
    * guard is ACTIVE. */
  private[queries] def withSubCells(df: DataFrame, pops: DataFrame, cap: Int): DataFrame = {
    val nsub = least(floor((col("cell_pop") + lit(cap - 1)) / lit(cap)), lit(65536L)).cast("int")
    df.join(broadcast(pops), Seq("cid"), "left")
      .withColumn("scid",
        when(col("cell_pop").isNull || col("cell_pop") <= cap, lit(0))
          .otherwise(pmod(graft.functions.VectorFunctions.lshBucket(
            col("v"), SubSplitPlanes, SimilarityQueries.Dim), nsub)))
      .drop("cell_pop")
  }

  /** Guarded within-cell candidate pairs over a (cid, vec_id, v, …) frame:
    * the d10 self-join keyed (cid, scid) with `a.vec_id < b.vec_id`.
    * Exposed so the planted-hot-cell spec can count candidates directly. */
  private[queries] def withinCellCandidates(cc: DataFrame, cap: Int): DataFrame = {
    val g = withSubCells(cc, cellPops(cc), cap)
    g.as("a").join(g.as("b"),
      col("a.cid") === col("b.cid") && col("a.scid") === col("b.scid") &&
        col("a.vec_id") < col("b.vec_id"))
  }

  /** d10's verdict pass over a [[centroidCosinesOf]]-shaped frame,
    * parametric in threshold and hot-cell cap (the gated def binds
    * [[NearDupT]] / [[MaxCellPop]]). */
  private[queries] def semanticDedupVerdicts(cc: DataFrame, threshold: Double,
                                             cap: Int): DataFrame = {
    val losers = withinCellCandidates(cc, cap)
      .where((graft.functions.VectorFunctions.dot(col("a.v"), col("b.v")) /
        (col("a.nrm") * col("b.nrm"))) >= threshold)
      .select(when(struct(col("a.ccos"), col("a.vec_id")) >
          struct(col("b.ccos"), col("b.vec_id")),
        col("a.vec_id")).otherwise(col("b.vec_id")).as("vec_id"))
      .distinct()
    cc.join(losers.withColumn("rm", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").as("cluster_id"), col("ccos"),
        coalesce(col("rm"), lit(false)).as("removed"))
  }

  /** Embedding near-dup cosine threshold, shared by d5 (brute force), d7
    * (LSH-bucketed), and d10 (semantic dedup keep rule) — planted dups sit
    * well above, background below. Interpolated into BOTH the Spark defs
    * and the DuckDB oracle SQL so tuning it cannot silently diverge the
    * engine from the gate. */
  private[queries] val NearDupT = 0.4

  /** Hot-cell population cap for d10 / incremental semantic dedup (see
    * [[withSubCells]]). Calibrated INERT at the gate scales (max cell ≈ 200
    * at sf0.1, ≈ 2000-row corpus; the sf1 rehearsal's largest cell sits
    * near it — BENCH_NOTES records which side) and ACTIVE wherever a real
    * skewed corpus concentrates: pair work per cell is bounded at
    * ~pop × cap instead of pop². Production tuning: cap ≈ the per-task
    * pair budget you can afford (candidates per cell ≈ pop × cap / 2). */
  private[queries] val MaxCellPop = 2000

  /** Planes for the hot-cell sub-split bucket — 2¹⁶ distinct codes, the
    * `nsub` ceiling in [[withSubCells]]. */
  private[queries] val SubSplitPlanes = 16

  // ------------------------------------------------------------- oracles

  private val toks = tokensSql("text")

  /** Shared CTE fragments (WITH bodies) mirroring the Spark pipelines:
    * string k-gram shingles hashed with the shared polynomial fold, THEN
    * dedup'd — element-for-element equal to ShingleHashes' output sets. */
  private val shCte =
    s"""sgl AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= $ShingleK THEN list_distinct(list_transform(
       |      [array_to_string(t[i+1:i+$ShingleK], ' ') for i in range(0, len(t) - ${ShingleK - 1})],
       |      x -> ${polyHashSql("x")}))
       |    ELSE [] END AS sh
       |  FROM (SELECT doc_id, $toks AS t FROM documents)
       |), shf AS (SELECT doc_id, sh FROM sgl WHERE len(sh) > 0)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(0, 64), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE))), " +
      s"(acc, v) -> acc + v)"

  /** Shared CTE chain (appended after [[shCte]]): capped-candidate +
    * exact-verify Jaccard pairs as `jp(doc_a, doc_b, jaccard)` — the oracle
    * twin of [[jaccardPairsOf]], shared by d2/d6/d9. */
  private val jpCte =
    s"""ds AS (SELECT doc_id, unnest(sh) AS s FROM shf),
       |rare AS (SELECT s FROM ds GROUP BY s HAVING COUNT(*) <= $MaxShingleDf),
       |cp AS (SELECT ds.doc_id, ds.s FROM ds JOIN rare ON ds.s = rare.s),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM cp a JOIN cp b ON a.s = b.s AND a.doc_id < b.doc_id),
       |jp AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT doc_a, doc_b,
       |           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
       |    FROM cand
       |    JOIN shf sa ON sa.doc_id = cand.doc_a
       |    JOIN shf sb ON sb.doc_id = cand.doc_b)
       |  WHERE jaccard >= $JaccardT)""".stripMargin

  /** d7's LSH-bucketed embedding pair set as `ep(vec_a, vec_b, cos)`. */
  private val epCte =
    s"""emb AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm,
       |         ${graft.functions.LshBucket.sql("embedding", 8, SimilarityQueries.Dim)} AS bkt
       |  FROM embeddings),
       |ep AS (
       |  SELECT vec_a, vec_b, cos FROM (
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |           ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
       |    FROM emb a JOIN emb b ON a.bkt = b.bkt AND a.vec_id < b.vec_id)
       |  WHERE cos >= $NearDupT)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY text) AS keeper_id,
        |  doc_id <> MIN(doc_id) OVER (PARTITION BY text) AS is_dup
        |FROM documents""".stripMargin,

    "d2_ngram_jaccard" ->
      s"""WITH $shCte,
         |$jpCte
         |SELECT doc_a, doc_b, jaccard FROM jp""".stripMargin,

    "d3_minhash_lsh" ->
      s"""WITH $shCte,
         |sig AS (SELECT doc_id, sh, ${minhashSignatureSql("sh")} AS sig FROM shf),
         |bands AS (
         |  SELECT doc_id,
         |         CAST(band AS VARCHAR) || ':' ||
         |           array_to_string(sig[band*$RowsPerBand+1 : band*$RowsPerBand+$RowsPerBand], '-') AS bkey
         |  FROM sig, range($NumBands) r(band)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |verified AS (
         |  SELECT doc_a, doc_b,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |           (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
         |  FROM cand
         |  JOIN shf sa ON sa.doc_id = cand.doc_a
         |  JOIN shf sb ON sb.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= $JaccardT""".stripMargin,

    "d6_dup_clusters" ->
      s"""WITH RECURSIVE $shCte,
         |$jpCte,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM jp),
         |bi AS (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst AS a, src AS b FROM e),
         |reach(node, r) AS (
         |  SELECT a, b FROM bi
         |  UNION
         |  SELECT reach.node, bi.b FROM reach JOIN bi ON bi.a = reach.r WHERE bi.b <> reach.node),
         |asgn AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node HAVING MIN(r) < node)
         |SELECT node AS doc_id, component AS cluster_rep FROM asgn""".stripMargin,

    // d11: d6's recursive min-reachability fixpoint, over the d7 embedding
    // pair set instead of the text jaccard pairs
    "d11_semantic_clusters" ->
      s"""WITH RECURSIVE $epCte,
         |e AS (SELECT vec_a AS src, vec_b AS dst FROM ep),
         |bi AS (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst AS a, src AS b FROM e),
         |reach(node, r) AS (
         |  SELECT a, b FROM bi
         |  UNION
         |  SELECT reach.node, bi.b FROM reach JOIN bi ON bi.a = reach.r WHERE bi.b <> reach.node),
         |asgn AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node HAVING MIN(r) < node)
         |SELECT node AS vec_id, component AS cluster_rep FROM asgn""".stripMargin,

    "d4_simhash" -> simhashSql(toks),

    "d4_simhash_pairs" ->
      s"""WITH sh AS (${simhashSql(toks)})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1""".stripMargin,

    "d7_embedding_neardup_lsh" ->
      s"""WITH $epCte
         |SELECT vec_a, vec_b, cos FROM ep""".stripMargin,

    "d9_ensemble_neardup" ->
      s"""WITH $shCte,
         |$jpCte,
         |$epCte
         |SELECT COALESCE(jp.doc_a, ep.vec_a) AS doc_a,
         |       COALESCE(jp.doc_b, ep.vec_b) AS doc_b,
         |       jaccard, cos,
         |       jaccard IS NOT NULL AS by_text,
         |       cos IS NOT NULL AS by_embedding
         |FROM jp FULL OUTER JOIN ep
         |  ON jp.doc_a = ep.vec_a AND jp.doc_b = ep.vec_b""".stripMargin,

    "d8_passage_dedup" ->
      s"""WITH tt AS (SELECT doc_id, $toks AS ws FROM documents),
         |p AS (
         |  SELECT doc_id, u['pos'] AS pos, u['h'] AS h FROM (
         |    SELECT doc_id, unnest([{'pos': i, 'h': ${polyHashSql(
               s"array_to_string(ws[$PassageLen*i+1 : $PassageLen*i+$PassageLen], ' ')")}}
         |                           for i in range(0, len(ws)//$PassageLen)]) AS u
         |    FROM tt WHERE len(ws) >= $PassageLen)),
         |r AS (SELECT doc_id, pos,
         |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         |      FROM p)
         |SELECT doc_id, COUNT(*) AS n_passages,
         |       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |FROM r GROUP BY doc_id""".stripMargin,

    "d5_embedding_neardup" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $NearDupT""".stripMargin,

    // d10: the s6 trained-quantizer CTE prefix (en/cw/asgn — bit-identical
    // Lloyd trajectory), then the hot-cell-guarded within-(cid, scid) pairs
    // >= the threshold and the higher-(ccos, id) member of each pair marked
    // removed. The guard CTEs (pops/gcc) replay [[withSubCells]] exactly —
    // integer ceil-div for nsub, the shared 16-plane LSH bucket mod nsub —
    // so the oracle stays valid even at scales where the guard is ACTIVE.
    "d10_semantic_dedup" ->
      s"""WITH ${SimilarityQueries.kmeansOracleCtes},
         |cc AS (
         |  SELECT a.cid, e.vec_id, e.v, e.nrm,
         |         ${dotSql("e.v", "c.cv")} / (e.nrm * c.cn) AS ccos
         |  FROM asgn a JOIN en e USING (vec_id) JOIN cw c USING (cid)),
         |pops AS (SELECT cid, COUNT(*) AS cell_pop FROM cc GROUP BY cid),
         |gcc AS (
         |  SELECT cc.*, CASE WHEN p.cell_pop <= $MaxCellPop THEN 0
         |    ELSE ${graft.functions.LshBucket.sql("cc.v", SubSplitPlanes, SimilarityQueries.Dim)} %
         |      CAST(least(floor((p.cell_pop + ${MaxCellPop - 1}) / $MaxCellPop), 65536) AS INT)
         |    END AS scid
         |  FROM cc JOIN pops p USING (cid)),
         |losers AS (
         |  SELECT DISTINCT CASE WHEN row(a.ccos, a.vec_id) > row(b.ccos, b.vec_id)
         |                       THEN a.vec_id ELSE b.vec_id END AS vec_id
         |  FROM gcc a JOIN gcc b ON a.cid = b.cid AND a.scid = b.scid AND a.vec_id < b.vec_id
         |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= $NearDupT)
         |SELECT cc.vec_id, cc.cid AS cluster_id, cc.ccos,
         |       l.vec_id IS NOT NULL AS removed
         |FROM cc LEFT JOIN losers l ON cc.vec_id = l.vec_id""".stripMargin,

    // d12: the incremental admission rule replayed end to end over the
    // even/odd split — shared shingle + signature + band CTEs, candidates
    // against the corpus index, Jaccard verification, the in-batch cluster
    // graph's min-reachability fixpoint (d6's recursive CTE, batch-only so
    // the recursion stays tiny at any sf), and cluster-transitive corpus
    // contamination in both directions. A batch doc is admitted iff it
    // duplicates no corpus content and is the min-id representative of its
    // in-batch cluster.
    "d12_incremental_dedup" ->
      s"""WITH RECURSIVE $shCte,
         |sig AS (SELECT doc_id, sh, ${minhashSignatureSql("sh")} AS sig FROM shf),
         |bands AS (
         |  SELECT doc_id,
         |         CAST(band AS VARCHAR) || ':' ||
         |           array_to_string(sig[band*$RowsPerBand+1 : band*$RowsPerBand+$RowsPerBand], '-') AS bkey
         |  FROM sig, range($NumBands) r(band)),
         |nb AS (SELECT doc_id, bkey FROM bands WHERE doc_id % 2 = 1),
         |ob AS (SELECT doc_id, bkey FROM bands WHERE doc_id % 2 = 0),
         |-- MaxBandPop hot-band cap (r17): index bands over the cap are
         |-- excluded from candidate generation, replaying the engine's dial
         |obcold AS (SELECT bkey FROM ob GROUP BY bkey HAVING COUNT(*) <= $MaxBandPop),
         |obc AS (SELECT ob.doc_id, ob.bkey FROM ob JOIN obcold USING (bkey)),
         |candold AS (
         |  SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
         |  FROM nb n JOIN obc o ON n.bkey = o.bkey),
         |dupvsold AS (
         |  SELECT DISTINCT doc_new FROM candold
         |  JOIN shf sn ON sn.doc_id = candold.doc_new
         |  JOIN shf so ON so.doc_id = candold.doc_old
         |  WHERE CAST(len(list_intersect(sn.sh, so.sh)) AS DOUBLE) /
         |          (len(sn.sh) + len(so.sh) - len(list_intersect(sn.sh, so.sh))) >= $JaccardT),
         |bp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM nb a JOIN nb b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |bpv AS (
         |  SELECT doc_a, doc_b FROM bp
         |  JOIN shf sa ON sa.doc_id = bp.doc_a
         |  JOIN shf sb ON sb.doc_id = bp.doc_b
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |          (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= $JaccardT),
         |bi AS (SELECT doc_a AS a, doc_b AS b FROM bpv
         |       UNION ALL SELECT doc_b AS a, doc_a AS b FROM bpv),
         |reach(node, r) AS (
         |  SELECT a, b FROM bi
         |  UNION
         |  SELECT reach.node, bi.b FROM reach JOIN bi ON bi.a = reach.r WHERE bi.b <> reach.node),
         |member AS (SELECT node AS doc_new, MIN(r) AS cl FROM reach GROUP BY node HAVING MIN(r) < node),
         |contam AS (
         |  SELECT COALESCE(m.cl, d.doc_new) AS doc_new
         |  FROM dupvsold d LEFT JOIN member m ON m.doc_new = d.doc_new),
         |rejected AS (
         |  -- DISTINCT over UNION ALL, not UNION: inside WITH RECURSIVE,
         |  -- DuckDB does not dedup a non-recursive UNION (the d6/r01 gotcha)
         |  SELECT DISTINCT doc_new FROM (
         |    SELECT doc_new FROM dupvsold
         |    UNION ALL SELECT doc_new FROM member
         |    UNION ALL SELECT doc_new FROM contam))
         |SELECT d.doc_id, rej.doc_new IS NULL AS admitted
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
         |LEFT JOIN rejected rej ON rej.doc_new = d.doc_id""".stripMargin,

    // d13: the incremental semantic verdicts replayed over the same split —
    // the d10 Lloyd-trajectory prefix (centroids identical to the persisted
    // index's), posting half vs batch half, corpus probe + survivors-only
    // in-batch keep rule, each side's hot-cell guard replayed with the d10
    // oracle's integer arithmetic (corpus-cell pops key the probe, survivor
    // pops key the in-batch pass; cells absent from the pops get scid 0).
    "d13_semantic_incremental" ->
      s"""WITH ${SimilarityQueries.kmeansOracleCtes},
         |cc AS (
         |  SELECT a.cid, e.vec_id, e.v, e.nrm,
         |         ${dotSql("e.v", "c.cv")} / (e.nrm * c.cn) AS ccos
         |  FROM asgn a JOIN en e USING (vec_id) JOIN cw c USING (cid)),
         |post AS (SELECT cid, vec_id, v, nrm FROM cc WHERE vec_id % 2 = 0),
         |b AS (SELECT * FROM cc WHERE vec_id % 2 = 1),
         |cpops AS (SELECT cid, COUNT(*) AS cell_pop FROM post GROUP BY cid),
         |pg AS (
         |  SELECT post.*, CASE WHEN p.cell_pop IS NULL OR p.cell_pop <= $MaxCellPop THEN 0
         |    ELSE ${graft.functions.LshBucket.sql("post.v", SubSplitPlanes, SimilarityQueries.Dim)} %
         |      CAST(least(floor((p.cell_pop + ${MaxCellPop - 1}) / $MaxCellPop), 65536) AS INT)
         |    END AS scid
         |  FROM post LEFT JOIN cpops p USING (cid)),
         |bg AS (
         |  SELECT b.*, CASE WHEN p.cell_pop IS NULL OR p.cell_pop <= $MaxCellPop THEN 0
         |    ELSE ${graft.functions.LshBucket.sql("b.v", SubSplitPlanes, SimilarityQueries.Dim)} %
         |      CAST(least(floor((p.cell_pop + ${MaxCellPop - 1}) / $MaxCellPop), 65536) AS INT)
         |    END AS scid
         |  FROM b LEFT JOIN cpops p USING (cid)),
         |hitcorpus AS (
         |  SELECT DISTINCT n.vec_id FROM bg n JOIN pg o ON n.cid = o.cid AND n.scid = o.scid
         |  WHERE ${dotSql("n.v", "o.v")} / (n.nrm * o.nrm) >= $NearDupT),
         |surv AS (SELECT b.* FROM b LEFT JOIN hitcorpus h USING (vec_id) WHERE h.vec_id IS NULL),
         |spops AS (SELECT cid, COUNT(*) AS cell_pop FROM surv GROUP BY cid),
         |sg AS (
         |  SELECT surv.*, CASE WHEN p.cell_pop IS NULL OR p.cell_pop <= $MaxCellPop THEN 0
         |    ELSE ${graft.functions.LshBucket.sql("surv.v", SubSplitPlanes, SimilarityQueries.Dim)} %
         |      CAST(least(floor((p.cell_pop + ${MaxCellPop - 1}) / $MaxCellPop), 65536) AS INT)
         |    END AS scid
         |  FROM surv LEFT JOIN spops p USING (cid)),
         |losebatch AS (
         |  SELECT DISTINCT CASE WHEN row(a.ccos, a.vec_id) > row(b2.ccos, b2.vec_id)
         |                       THEN a.vec_id ELSE b2.vec_id END AS vec_id
         |  FROM sg a JOIN sg b2 ON a.cid = b2.cid AND a.scid = b2.scid AND a.vec_id < b2.vec_id
         |  WHERE ${dotSql("a.v", "b2.v")} / (a.nrm * b2.nrm) >= $NearDupT),
         |rej AS (SELECT vec_id FROM hitcorpus UNION SELECT vec_id FROM losebatch)
         |SELECT b.vec_id, b.cid AS cluster_id, b.ccos, r.vec_id IS NULL AS admitted
         |FROM b LEFT JOIN rej r USING (vec_id)""".stripMargin,

    // d14: the same all-position gram postings (d8's oracle family, stride
    // 1 instead of 16), the df cap replayed, then the identical hash join +
    // diagonal islands. COUNT(*)+15 = island grams + (SpanLen-1).
    "d14_substring_dedup" ->
      s"""WITH $spanCtes
         |SELECT doc_a, doc_b, a_pos, b_pos, span_len FROM sp""".stripMargin,

    // d15: the same span CTEs, then the keep-first cut replayed ROW-LOCALLY
    // — exactly the Spark formulation: each doc carries its owed-interval
    // list, and the kept tokens are a list comprehension filtering token
    // positions against it. (The first formulation exploded every token to
    // its own row and range-joined positions against intervals — at sf1
    // that per-token table OOM-killed the sweep's DuckDB process; this one
    // peaks ~1 GB and runs sf1 in seconds.) array_to_string of the empty
    // kept list is NULL — the COALESCE rewrites a fully-cut doc to ''.
    "d15_substring_cut" ->
      s"""WITH $spanCtes,
         |${cutCtesFor("documents", "")}
         |SELECT doc_id, n_tokens, n_cut, text FROM cut""".stripMargin,

    // d16: the anchor twin replayed exactly — postings restricted to grams
    // with h % stride = 0 (anchor-ness is a property of the gram, so the
    // df cap binds identically), anchor-hash candidate join, the r15
    // ISLAND COLLAPSE (per-diagonal sorted positions filtered to island
    // starts — the engine's rule verbatim, so even the ~1e-4-rare
    // gram-hash-collision merges behave identically in both engines: the
    // d2 convention), then the same bidirectional longest-common-prefix
    // extension the engine computes with zip_with/array_position, here as
    // list_zip/list_position (both pad the shorter list with NULLs;
    // NULL <=> token is false on both engines, so the scan stops at the
    // first mismatch or length end).
    "d16_substring_anchors" ->
      s"""WITH ${anchorSpanCtesFor("documents", "")}
         |SELECT doc_a, doc_b, a_pos, b_pos, span_len FROM sp""".stripMargin
  )

  /** The d16 anchor-twin span chain re-anchorable to ANY (doc_id, text)
    * CTE/table `src`, CTE names prefixed with `p` (the [[spanCtesFor]]
    * convention — p4's anchored variant anchors it to the pipeline's
    * quality-survivor set; same `${p}sp` output name, so [[cutCtesFor]]
    * composes with either span chain unchanged). Postings restricted to
    * grams with h % stride = 0 (anchor-ness is a property of the gram, so
    * the df cap binds identically), anchor-hash candidate join, the r15
    * ISLAND COLLAPSE (per-diagonal sorted positions filtered to island
    * starts — the engine's rule verbatim, so even the ~1e-4-rare
    * gram-hash-collision merges behave identically in both engines: the
    * d2 convention), then the same bidirectional longest-common-prefix
    * extension the engine computes with zip_with/array_position, here as
    * list_zip/list_position (both pad the shorter list with NULLs;
    * NULL <=> token is false on both engines, so the scan stops at the
    * first mismatch or length end). */
  private[queries] def anchorSpanCtesFor(src: String, p: String): String =
    s"""${p}att AS (SELECT doc_id, $toks AS ws FROM $src),
       |${p}ag AS (
       |  SELECT doc_id, u['pos'] AS pos, u['h'] AS h FROM (
       |    SELECT doc_id, unnest([{'pos': i, 'h': ${polyHashSql(
             s"array_to_string(ws[i+1 : i+$SpanLen], ' ')")}}
       |                           for i in range(0, len(ws) - ${SpanLen - 1})]) AS u
       |    FROM ${p}att WHERE len(ws) >= $SpanLen)),
       |${p}anch AS (SELECT doc_id, pos, h FROM ${p}ag WHERE h % $AnchorStride = 0),
       |${p}ca AS (SELECT doc_id, pos, h FROM (
       |         SELECT ${p}anch.*, COUNT(*) OVER (PARTITION BY h) AS df FROM ${p}anch)
       |       WHERE df <= $MaxGramDf),
       |${p}hits AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.pos AS a_pos, b.pos AS b_pos
       |         FROM ${p}ca a JOIN ${p}ca b ON a.h = b.h AND a.doc_id < b.doc_id),
       |${p}diagp AS (SELECT doc_a, doc_b, a_pos - b_pos AS diag,
       |            list_sort(list(a_pos)) AS ps
       |          FROM ${p}hits GROUP BY doc_a, doc_b, a_pos - b_pos),
       |${p}isl AS (SELECT doc_a, doc_b, diag,
       |          unnest(list_filter(ps, (pp, i) -> i = 1 OR pp - ps[i-1] > $SpanLen)) AS a_pos
       |        FROM ${p}diagp),
       |${p}cand AS (SELECT doc_a, doc_b, a_pos, a_pos - diag AS b_pos FROM ${p}isl),
       |-- MATERIALIZED: at sf1 DuckDB 1.x segfaults when the island
       |-- unnest(list_filter) chain and the downstream LCP lambdas fuse
       |-- into one pipeline (the r14 CASE-over-lambda crash family —
       |-- bisected the same way: j alone materialized is sufficient)
       |${p}aj AS MATERIALIZED (SELECT ${p}cand.*, ta.ws AS wa, tb.ws AS wb
       |      FROM ${p}cand JOIN ${p}att ta ON ta.doc_id = ${p}cand.doc_a
       |                JOIN ${p}att tb ON tb.doc_id = ${p}cand.doc_b),
       |${p}ae0 AS (SELECT doc_a, doc_b, a_pos, b_pos, len(wa) AS la, len(wb) AS lb,
       |        ${lcpPosSql("list_reverse(wa[1:a_pos])", "list_reverse(wb[1:b_pos])")} AS pl,
       |        ${lcpPosSql(s"wa[a_pos+${SpanLen + 1}:len(wa)]",
                           s"wb[b_pos+${SpanLen + 1}:len(wb)]")} AS pr
       |       FROM ${p}aj),
       |${p}ae AS (SELECT doc_a, doc_b, a_pos, b_pos,
       |        CASE WHEN pl = 0 THEN least(a_pos, b_pos) ELSE pl - 1 END AS ext_l,
       |        CASE WHEN pr = 0 THEN least(la - a_pos - $SpanLen, lb - b_pos - $SpanLen)
       |             ELSE pr - 1 END AS ext_r
       |      FROM ${p}ae0),
       |${p}sp AS (SELECT DISTINCT doc_a, doc_b,
       |  CAST(a_pos - ext_l AS BIGINT) AS a_pos,
       |  CAST(b_pos - ext_l AS BIGINT) AS b_pos,
       |  CAST(ext_l + ext_r + $SpanLen AS BIGINT) AS span_len
       |FROM ${p}ae)""".stripMargin

  /** DuckDB twin of the engine's LCP mismatch probe: 1-based position of
    * the first elementwise difference between two NULL-padded lists, 0 when
    * they match end to end. Mirrors
    * `array_position(zip_with(x, y, (a, b) => a <=> b), false)` exactly,
    * including the not-found-as-0 convention. The p=0 → shorter-length CASE
    * is applied in a SEPARATE CTE stage over scalar columns: DuckDB 1.x
    * segfaults when this list-lambda chain sits under a CASE branch at sf1
    * row volume (reproduced + bisected in r14; each layer alone is fine),
    * and the two-stage shape also evaluates the lambda once instead of
    * per CASE-referenced copy. */
  private def lcpPosSql(x: String, y: String): String =
    s"COALESCE(list_position(list_transform(list_zip($x, $y), " +
      s"s -> s[1] IS NOT DISTINCT FROM s[2]), false), 0)"

  /** Shared d14/d15 span CTE chain: all-position gram postings, the df cap,
    * the gram-hash join, diagonal gaps-and-islands to maximal spans `sp`. */
  private lazy val spanCtes: String = spanCtesFor("documents", "")

  /** The span chain re-anchorable to ANY (doc_id, text) CTE/table `src`,
    * CTE names prefixed with `p` so it can sit inside a larger cascade
    * without collisions (p4 anchors it to the pipeline's quality-survivor
    * set). Output: `${p}sp(doc_a, doc_b, a_pos, b_pos, span_len)`. */
  private[queries] def spanCtesFor(src: String, p: String): String =
    s"""${p}tt AS (SELECT doc_id, $toks AS ws FROM $src),
       |${p}g AS (
       |  SELECT doc_id, u['pos'] AS pos, u['h'] AS h FROM (
       |    SELECT doc_id, unnest([{'pos': i, 'h': ${polyHashSql(
             s"array_to_string(ws[i+1 : i+$SpanLen], ' ')")}}
       |                           for i in range(0, len(ws) - ${SpanLen - 1})]) AS u
       |    FROM ${p}tt WHERE len(ws) >= $SpanLen)),
       |${p}cg AS (SELECT doc_id, pos, h FROM (
       |         SELECT ${p}g.*, COUNT(*) OVER (PARTITION BY h) AS df FROM ${p}g)
       |       WHERE df <= $MaxGramDf),
       |${p}m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |             a.pos AS a_pos, b.pos AS b_pos
       |      FROM ${p}cg a JOIN ${p}cg b ON a.h = b.h AND a.doc_id < b.doc_id),
       |${p}i AS (SELECT *, a_pos - row_number() OVER (
       |        PARTITION BY doc_a, doc_b, a_pos - b_pos ORDER BY a_pos) AS isl
       |      FROM ${p}m),
       |${p}sp AS (SELECT doc_a, doc_b, CAST(MIN(a_pos) AS BIGINT) AS a_pos,
       |         CAST(MIN(b_pos) AS BIGINT) AS b_pos,
       |         COUNT(*) + ${SpanLen - 1} AS span_len
       |       FROM ${p}i GROUP BY doc_a, doc_b, a_pos - b_pos, isl)""".stripMargin

  /** The keep-first cut replayed over `src` against `${p}sp` — append after
    * [[spanCtesFor]] with the same prefix. Output:
    * `${p}cut(doc_id, n_tokens, n_cut, text)` — the d15 semantics (see the
    * d15 oracle comment for the row-local formulation's sf1 rationale). */
  private[queries] def cutCtesFor(src: String, p: String): String =
    s"""${p}cutiv AS (SELECT doc_b AS doc_id, b_pos AS st, b_pos + span_len AS en FROM ${p}sp),
       |${p}civ AS (SELECT doc_id, list({'st': st, 'en': en}) AS iv FROM ${p}cutiv GROUP BY doc_id),
       |${p}ta AS (SELECT doc_id, $toks AS ws FROM $src),
       |${p}tc AS (SELECT ${p}ta.doc_id, ws, COALESCE(${p}civ.iv, []) AS iv
       |       FROM ${p}ta LEFT JOIN ${p}civ ON ${p}ta.doc_id = ${p}civ.doc_id),
       |${p}k AS (SELECT doc_id, ws,
       |        [ws[i+1] for i in range(0, len(ws))
       |         if len(list_filter(iv, v -> i >= v['st'] AND i < v['en'])) = 0] AS kept
       |      FROM ${p}tc),
       |${p}cut AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
       |       CAST(len(ws) - len(kept) AS BIGINT) AS n_cut,
       |       COALESCE(array_to_string(kept, ' '), '') AS text
       |     FROM ${p}k)""".stripMargin
}
