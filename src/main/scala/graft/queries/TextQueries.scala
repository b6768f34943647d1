package graft.queries

import graft.Checkpoints.EagerOps
import graft.sources.Tables
import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators over the `documents` table (driver north-star:
 * token counting, quality scoring, language-ID heuristic, document
 * fingerprinting). All per-row scalar pipelines — no shuffle except the
 * word-frequency rollup — built on codegen'd higher-order functions, no UDFs.
 *
 * Oracle-parity: ratios are single IEEE divisions of exact integers
 * (identical bits both engines); hashes are the shared fold from
 * [[graft.text.TextFunctions]].
 */
object TextQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens, distinct tokens, mean token length.
    "t1_token_stats" -> ((s, d) => {
      val t = tokens(col("text"))
      docs(s, d).select(
        col("doc_id"),
        size(t).as("n_tokens"),
        size(array_distinct(t)).as("n_distinct"),
        length(col("text")).as("n_chars_actual"),
        (aggregate(transform(t, w => length(w).cast("long")), lit(0L), (a, x) => a + x)
          .cast("double") / size(t)).as("avg_token_len"))
    }),

    // Corpus word frequency: top 50 words, total order (count desc, word asc).
    "t2_word_freq" -> ((s, d) =>
      docs(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(50)),

    // HEAVY HITTERS, the scale path for "which tokens dominate the corpus":
    // t2's full groupBy shuffles every (word, partial-count) pair — fine for
    // a top-50 report, wasteful when only the > n/(K+1) outliers matter. One
    // Misra-Gries-style pass (`stat.freqItems` — per-partition bounded maps,
    // driver merge; its guarantee: every item with frequency > support·n IS
    // in the candidate set) yields ≤K candidates; an exact recount touches
    // the stream once more but aggregates only K keys (map-side combine,
    // K rows per partition shuffled). The superset guarantee + exact
    // recount + strict threshold makes the RESULT exact — bloom-style
    // prune-then-verify, applied to aggregation.
    "t8_heavy_hitters" -> ((s, d) => {
      val tok = docs(s, d).select(explode(tokens(col("text"))).as("word"))
      val cands = tok.stat.freqItems(Seq("word"), 1.0 / (HeavyK + 1))
        .head.getSeq[String](0)
      val total = tok.agg(count(lit(1)).as("n_total"))
      tok.where(col("word").isInCollection(cands))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .where(col("n") > col("n_total").cast("double") / (HeavyK + 1).toDouble)
        .select(col("word"), col("n"), col("n_total"))
    }),

    // BIGRAM LANGUAGE-MODEL scoring (t9, r08): the LM-based quality signal
    // real curation pipelines use (CCNet/Gopher filter on LM perplexity) —
    // here the corpus's own MLE bigram model, P(w2|w1) = c(w1 w2)/c(w1 ·),
    // and each doc scored by its mean conditional probability. Probabilities
    // stay RATIONAL (count ratios — no log/exp, whose libm rounding differs
    // across engines), and the per-doc mean is the t6 order-deterministic
    // sorted fold, so scores hash bit-identically vs the oracle. Shape: one
    // instance stream (doc_id, bigram hash, prefix hash) feeds two map-side-
    // combinable counts + two hash joins back — the inverted-index pattern,
    // never docs x docs; per-doc state is one bounded fold.
    "t9_bigram_lm" -> ((s, d) => bigramLmScoresOf(docs(s, d))),

    // CHUNKING (t10, r10): overlapping token windows — the context-window
    // prep stage of a RAG / training pipeline (documents → fixed-size
    // chunks with stride overlap, each fingerprinted for downstream dedup
    // or retrieval). Chunk starts at 0, Stride, 2·Stride, … < n_tokens;
    // the final window truncates at the document end.
    //
    // 100 TB notes: per-row generate only — scan, project, explode; ZERO
    // shuffle (PlanSpec pins no exchange). The chunk hash reuses the shared
    // polynomial fold so chunk identity is comparable with d8 passages and
    // t5 fingerprints across the whole engine.
    "t10_chunking" -> ((s, d) => chunksOf(docs(s, d))),

    // SUBWORD token counting (t11, r10): the BPE-ish pre-tokenizer pass —
    // a GPT-2-style regex (letter runs / digit runs / punctuation runs,
    // each with an optional attached leading space; no lookahead, so Java
    // regex and RE2 agree token-for-token) — the budget unit a training
    // pipeline actually counts, vs t1's whitespace tokens. `fertility` =
    // subwords per whitespace token (the tokenizer-pressure metric).
    // Per-row scalar pipeline: scan, project, zero shuffle.
    "t11_subword_stats" -> ((s, d) => subwordStatsOf(docs(s, d))),

    // LM QUALITY FILTER (t12, r11): the CCNet-style perplexity-proxy gate —
    // score every document by its t9 bigram-LM average probability, then
    // keep documents at or above their LANGUAGE's 30th percentile (per-lang
    // normalization is the published recipe's point: a rare language's
    // sparse LM must not make its docs look uniformly "low quality" next to
    // the head language). Scores are t9's rational count-ratios through the
    // order-deterministic fold, so the percentile input is bit-identical
    // across engines; the c8 interpolation parity covers the cut value.
    // Only docs with >= 1 bigram are in scope (t9's universe).
    //
    // 100 TB notes: same shape as c8 — the per-lang thresholds are a
    // languages-row aggregate joined back by BROADCAST; the gate itself is
    // map-side. The exact `percentile` aggregate buffers each lang's scores
    // on its reducer (oracle-parity choice), as in c8.
    "t12_lm_quality" -> ((s, d) => {
      val scored = defs("t9_bigram_lm")(s, d)
      // r18 (guide §7.2): sl feeds the per-lang percentile AND the gate
      // join — unstaged, the whole t9 LM subtree executed twice (the
      // pipeline's CorpusStages.sl checkpoints for the same reason)
      val sl = scored.join(docs(s, d).select(col("doc_id"), col("lang")), "doc_id")
        .eagerCheckpoint()
      val th = sl.groupBy("lang").agg(expr("percentile(avg_p, 0.3)").as("p30"))
      sl.join(broadcast(th), "lang")
        .where(col("avg_p") >= col("p30"))
        .select(col("doc_id"), col("lang"), col("n_bigrams"), col("avg_p"), col("p30"))
    }),

    // Quality scoring: type-token ratio + stopword ratio -> score + keep flag.
    "t3_quality" -> ((s, d) => {
      val t = tokens(col("text"))
      val n = size(t)
      val nStop = size(filter(t, w => w.isInCollection(Stopwords)))
      val ttr = size(array_distinct(t)).cast("double") / n
      val stopRatio = nStop.cast("double") / n
      docs(s, d).select(
        col("doc_id"),
        ttr.as("ttr"),
        stopRatio.as("stopword_ratio"),
        (ttr * 0.5 + (lit(1.0) - stopRatio) * 0.5).as("quality_score"),
        (ttr * 0.5 + (lit(1.0) - stopRatio) * 0.5 >= 0.6).as("keep"))
    }),

    // Language-ID heuristic: English-stopword hit ratio (n-gram/stopword
    // heuristic family; the synthetic corpus is English-vocab so the signal
    // is the ratio itself, thresholded).
    "t4_lang_guess" -> ((s, d) => {
      val t = tokens(col("text"))
      val ratio = size(filter(t, w => w.isInCollection(Stopwords))).cast("double") / size(t)
      docs(s, d).select(
        col("doc_id"),
        col("lang").as("lang_declared"),
        ratio.as("en_stopword_ratio"),
        when(ratio >= 0.05, "en").otherwise("und").as("lang_guess"))
    }),

    // Document fingerprinting: order-sensitive rolling hash of the full text
    // + order-insensitive bag fingerprint (sorted distinct tokens).
    "t5_fingerprint" -> ((s, d) => {
      val t = tokens(col("text"))
      docs(s, d).select(
        col("doc_id"),
        polyHash(col("text")).as("content_hash"),
        polyHash(array_join(array_sort(array_distinct(t)), " ")).as("bag_hash"))
    }),

    // TF-IDF cosine similarity between documents over word-3-gram terms —
    // the weighted-vector complement to d2's set-Jaccard: an inverted-index
    // join on shared terms (no all-pairs), idf = N/df reciprocal weighting
    // (rational arithmetic end to end — log-idf would hinge on libm ulp
    // parity across engines; swap it in at deployment, the plan is
    // unchanged). Float determinism: every per-pair and per-doc sum is a
    // SORTED-by-term sequential left fold in double, the same op order as
    // the oracle's `list(x ORDER BY g)` + `list_reduce` (see
    // graft-cross-engine float rules) — a plain SUM() would be
    // order-nondeterministic in BOTH engines.
    //
    // 100 TB notes: postings shuffle O(total terms) keyed by term; 3-gram
    // terms are selective (df ≪ N), so the pair fan-out is Σ df² over
    // SHARED terms, not n² — and hot stop-terms (df > MaxTermDf) are DROPPED
    // from the vocabulary before the self-join, the same guard as d2's
    // hot-shingle cap. Semantics: TF-IDF over the capped vocabulary — the
    // dropped terms are exactly the least-informative ones (idf → 1), and
    // both norms and numerators use the same capped term space, so cosines
    // stay internally consistent. The cap is absolute: inert at test SFs
    // (max df 25 at sf0.1), decisive at 100 TB. collect_list here is
    // per-PAIR common terms (bounded by doc length), never a full posting.
    // The weight table is eagerly checkpointed: it feeds the self-join twice
    // and the norm aggregation once — without staging, the tf→df join
    // subplan re-executes 3x (VERDICT r04 wrong-item #2).
    "t6_tfidf_pairs" -> ((s, d) => tfidfPairsOf(docs(s, d), MaxTermDf)),

    // Repetition quality rules (the Gopher-report family, token-level): mass
    // of the single most frequent word and of the most frequent word-bigram.
    // Boilerplate/spam has a heavy repeated-phrase tail; the keep flag
    // thresholds both. Counts are exact integers; each ratio is one IEEE
    // division — bit-identical across engines. All aggregations are
    // map-side-combinable (count/max by doc) — no skew risk at 100 TB
    // (keys are doc-scoped).
    "t7_repetition" -> ((s, d) => {
      val t = tokens(col("text"))
      val base = docs(s, d).select(col("doc_id"), size(t).as("n"), t.as("ws"))
      val topw = base.select(col("doc_id"), col("n"), explode(col("ws")).as("w"))
        .groupBy("doc_id", "n", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "n").agg(max(col("c")).as("maxw"))
      // Bigrams via the codegen ShingleHashes(k=2, multiset) pass — one
      // expression per row instead of the interpreted
      // transform(sequence)+slice+array_join pipeline (CodegenFallback, 4
      // allocations per position). Counting HASHED bigrams: collisions
      // (~1e-4 at P≈2^30) merge identically in the oracle's mirrored hash.
      val topb = docs(s, d).select(col("doc_id"),
          explode(graft.functions.VectorFunctions.shingleHashesAll(col("text"), 2, HashP)).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("maxb"))
      val topWordMass = col("maxw").cast("double") / col("n").cast("double")
      val topBigramMass = col("maxb").cast("double") / (col("n") - 1).cast("double")
      topw.join(topb, "doc_id").select(
        col("doc_id"),
        topWordMass.as("top_word_mass"),
        topBigramMass.as("top_bigram_mass"),
        (topWordMass <= 0.15 && topBigramMass <= 0.10).as("keep"))
    })
  )

  /** TF-IDF cosine near-dup threshold (calibrated: planted dups ≥0.8,
    * background ≤0.2 with a thin partial-overlap band at sf0.1). */
  /** t8: report tokens with frequency strictly above n/(K+1) — the classic
    * heavy-hitter threshold at which a K-counter Misra-Gries pass cannot
    * miss an item. */
  private[graft] val HeavyK = 50

  private val TfidfT = 0.5

  /** t10: chunk window / stride in tokens (stride < window ⇒ 8-token
    * overlap between consecutive chunks — the standard RAG prep shape). */
  private val ChunkLen = 32
  private val ChunkStride = 24

  /** t11: BPE-ish pre-tokenization pattern. Alternatives are mutually
    * exclusive on the first non-space character and greedy within a class,
    * so leftmost-first (Java) and RE2 (DuckDB) produce identical token
    * streams; no lookahead/backreferences (RE2 has neither). */
  private val SubwordRe = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  /** The t11 transform on any (doc_id, text) frame. The gate corpus is
    * pure lowercase words (fertility exactly 1 there), so the BPE-ish
    * behavior — digit runs, punctuation runs, attached leading spaces —
    * is pinned by the planted-text spec, while the gate pins the regex
    * evaluates identically in Java regex and RE2. */
  def subwordStatsOf(documents: DataFrame): DataFrame = {
    val sub = regexp_extract_all(col("text"), lit(SubwordRe), lit(0))
    val ws = tokens(col("text"))
    documents.select(col("doc_id"),
      size(sub).as("n_subwords"),
      size(array_distinct(sub)).as("n_distinct_subwords"),
      (size(sub).cast("double") / size(ws)).as("fertility"))
  }

  /** The t10 transform on any (doc_id, text) frame — stateless per-row
    * generate, so it applies unchanged to [[graft.streaming.Streams
    * .documentStream]] (the streaming twin needs no watermark or state). */
  def chunksOf(documents: DataFrame): DataFrame = {
    val win = lit(ChunkLen)
    documents.select(col("doc_id"), tokens(col("text")).as("ws"))
      .where(size(col("ws")) >= 1)
      .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("ws")) - 1, lit(ChunkStride)),
          i => struct(i.as("s"),
            size(slice(col("ws"), i + 1, win)).as("n"),
            polyHash(concat_ws(" ", slice(col("ws"), i + 1, win))).as("h"))))
        .as("c"))
      .select(col("doc_id"), col("c.s").as("chunk_start"),
        col("c.n").as("n_tokens"), col("c.h").as("chunk_hash"))
  }

  /** TF-IDF pair pipeline core, parametric over the df cap (so the
    * planted-hot-term spec can exercise a small one) and the staging flag
    * (plan tests need the un-truncated lineage). */
  private[queries] def tfidfPairsOf(documents: DataFrame, maxDf: Long,
                                    stage: Boolean = true): DataFrame = {
    // terms = HASHED 3-grams (multiset → tf), the same polynomial-fold
    // convention as d2/d3's shingles — the codegen ShingleHashes(all) pass
    // replaces an interpreted per-position slice/join pipeline, and long
    // keys make the downstream sorts/shuffles cheap. Collisions (~1e-4 at
    // P≈2^30) merge identically in both engines.
    val grams = documents.select(col("doc_id"),
      explode(graft.functions.VectorFunctions.shingleHashesAll(col("text"), 3, HashP)).as("g"))
    val tf0 = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    // Stage tf: it feeds both the df aggregation and the weight join —
    // unstaged, the grams scan + partial agg execute twice.
    val tf = if (stage) tf0.eagerCheckpoint() else tf0
    val dfq = tf.groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    val nDf = documents.agg(count(lit(1)).as("n"))
    val wts0 = tf.join(dfq, "g").crossJoin(broadcast(nDf))
      .select(col("doc_id"), col("g"),
        (col("tf").cast("double") * (col("n").cast("double") / col("df").cast("double")))
          .as("wt"))
    // Stage the weight table: it feeds the self-join's BOTH sides plus the
    // norm aggregation — unstaged, the tf→df join subplan executes 3x.
    val wts = if (stage) wts0.eagerCheckpoint() else wts0
    // order-deterministic Σ: the codegen SortedTermSum sorts (g, term)
    // structs by (g, term) and folds sequentially — bit-identical to the
    // oracle's `list(term ORDER BY g, term)` + list_reduce
    def sortedSum(gCol: Column, term: Column): Column =
      graft.functions.VectorFunctions.sortedTermSum(
        collect_list(struct(gCol.as("g"), term.as("t"))))
    // Stage the norm table too (r18, guide §7.2 "duplicated subtrees"): nrm
    // feeds FOUR consumers — both sides of the phase-1 prefilter's na/nb
    // joins and both sides of the final na/nb joins — and unstaged, the
    // plan recomputes the ObjectHashAggregate (collect_list + SortedTermSum
    // over the full weight table) four times (measured: the 4 identical
    // Scan→ObjectHashAggregate→Exchange→BroadcastExchange subtrees in
    // plans/r18/t6_tfidf_pairs_before.txt ops 10-18/19-27/33-41/42-50).
    // O(docs) rows checkpointed once; consumers broadcast the blocks.
    val nrm0 = wts.groupBy("doc_id")
      .agg(sqrt(sortedSum(col("g"), col("wt") * col("wt"))).as("nrm"))
    val nrm = if (stage) nrm0.eagerCheckpoint() else nrm0
    val joined0 = wts.as("a").join(wts.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("a.g").as("g"),
        (col("a.wt") * col("b.wt")).as("t"))
    // staged: feeds the phase-1 prefilter AND the phase-2 semi-join
    val joined = if (stage) joined0.eagerCheckpoint() else joined0
    // Phase 1 prefilter: a plain codegen SUM over the full pair fan-out
    // (1.3M rows / 1.1M pairs at sf0.1 — hash aggregate, no per-pair lists),
    // thresholded with an ε margin. Order-nondeterministic, but |raw − num|
    // is ≤ terms·ulp ≈ 1e-13·(na·nb), so any pair with deterministic
    // cos ≥ TfidfT has raw cos ≥ TfidfT − 1e-9 — the prefilter is
    // conservative. Phase 2 then runs the expensive order-deterministic
    // collect_list + SortedTermSum on SURVIVORS only (the ~output-sized set),
    // whose values decide — and bit-match the oracle.
    val survivors = approxFilter(joined, nrm)
    val num = joined.join(survivors, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy("doc_a", "doc_b")
      .agg(sortedSum(col("g"), col("t")).as("num"))
    num
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), (col("num") / (col("na") * col("nb"))).as("cos_tfidf"))
      .where(col("cos_tfidf") >= TfidfT)
  }

  private def approxFilter(joined: DataFrame, nrm: DataFrame): DataFrame =
    joined.groupBy("doc_a", "doc_b").agg(sum(col("t")).as("raw"))
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .where(col("raw") / (col("na") * col("nb")) >= TfidfT - 1e-9)
      .select("doc_a", "doc_b")

  /** Hot-term document-frequency cap (same contract as
    * [[DedupQueries.MaxShingleDf]]): terms with df > cap are dropped from the
    * TF-IDF vocabulary before the inverted-index self-join, bounding the pair
    * fan-out at Σ min(df, cap)². Recall contract: similarity carried ONLY by
    * hot terms is lost — but those terms have idf ≤ N/cap of the minimum
    * possible weight, so the cosine shift is bounded by the hot-term weight
    * mass. Absolute cap, inert at test SFs, decisive at 100 TB. */
  private[queries] val MaxTermDf = 1000

  private val toks = tokensSql("text")

  /** t9's bigram-LM scoring chain as shared CTEs ending in
    * `score(doc_id, n_bigrams, avg_p)` — reused verbatim by the t12 gate so
    * both oracles replay one scoring definition. */
  private lazy val lmScoreCtes =
    s"""tt AS (SELECT doc_id, $toks AS ws FROM documents),
       |inst AS (
       |  SELECT doc_id,
       |    unnest([${polyHashSql("ws[i+1] || ' ' || ws[i+2]")}
       |            for i in range(0, len(ws) - 1)]) AS g,
       |    unnest([${polyHashSql("ws[i+1]")}
       |            for i in range(0, len(ws) - 1)]) AS pg
       |  FROM tt WHERE len(ws) >= 2),
       |cnt AS (SELECT g, COUNT(*)::BIGINT AS c FROM inst GROUP BY g),
       |pre AS (SELECT pg, COUNT(*)::BIGINT AS c1 FROM inst GROUP BY pg),
       |p AS (SELECT doc_id, inst.g AS g,
       |        CAST(c AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
       |      FROM inst JOIN cnt ON inst.g = cnt.g
       |                JOIN pre ON inst.pg = pre.pg),
       |score AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY g, p)),
       |      (a, x) -> a + x) / COUNT(*) AS avg_p
       |  FROM p GROUP BY doc_id)""".stripMargin

  /** (doc_id, pg, g) bigram instance events — t9's model event table,
    * extracted so the composed pipelines can build a corpus model once and
    * score OTHER documents against it (p2's frozen-model gate): `g` is the
    * bigram hash, `pg` its unigram-prefix hash, one row per bigram
    * OCCURRENCE (counts, not distinct — the MLE numerator/denominator both
    * count instances). Docs with <2 tokens emit nothing. */
  private[graft] def bigramInstancesOf(documents: DataFrame): DataFrame = {
    val V = graft.functions.VectorFunctions
    val base = documents.select(col("doc_id"),
      V.shingleHashesAll(col("text"), 1, HashP).as("u"),
      V.shingleHashesAll(col("text"), 2, HashP).as("b"))
      .where(size(col("b")) >= 1)
    base.select(col("doc_id"), explode(
        expr("transform(b, (x, i) -> struct(u[i] AS pg, x AS g))")).as("z"))
      .select(col("doc_id"), col("z.pg").as("pg"), col("z.g").as("g"))
  }

  /** The t9 scoring chain on any (doc_id, text) frame — parametric so the
    * composed pipeline (p1) can score its SURVIVOR corpus with the same
    * model-build the t9/t12 gates prove: the corpus's own MLE bigram LM,
    * each doc's mean conditional probability through the
    * order-deterministic fold (bit-identical in the oracle). Output:
    * (doc_id, n_bigrams, avg_p); docs with <2 tokens are out of scope. */
  private[queries] def bigramLmScoresOf(documents: DataFrame): DataFrame =
    // r18 (guide §7.2 duplicated subtrees): stage the instance stream — the
    // LM build consumes it three times (the c and c1 counts and the p join
    // each embed the tokenize+explode subtree when it is lazy; the pipeline
    // call sites pass an already-checkpointed corpusInst for exactly this
    // reason, this aligns the standalone t9/t12 path)
    bigramLmScoresFromInstances(bigramInstancesOf(documents).eagerCheckpoint())

  /** The scoring chain from an ALREADY-EXTRACTED instance table — so a
    * caller that needs the instances for other model tables too (the
    * composed pipelines: thresholds, LOO calibration, p2's cnt/pre) can
    * checkpoint ONE extraction instead of re-exploding the corpus per
    * consumer. */
  private[queries] def bigramLmScoresFromInstances(inst: DataFrame): DataFrame = {
    val cnt = inst.groupBy("g").agg(count(lit(1)).as("c"))
    val pre = inst.groupBy("pg").agg(count(lit(1)).as("c1"))
    val p = inst.join(cnt, "g").join(pre, "pg")
      .select(col("doc_id"), col("g"),
        (col("c").cast("double") / col("c1").cast("double")).as("p"))
    p.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      (graft.functions.VectorFunctions.sortedTermSum(
        collect_list(struct(col("g").as("g"), col("p").as("t"))))
        / count(lit(1))).as("avg_p"))
  }

  val oracles: Map[String, String] = Map(
    "t1_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($toks) AS INT) AS n_tokens,
         |  CAST(len(list_distinct($toks)) AS INT) AS n_distinct,
         |  CAST(length(text) AS INT) AS n_chars_actual,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform($toks, w -> CAST(length(w) AS BIGINT))), (a, x) -> a + x) AS DOUBLE)
         |    / len($toks) AS avg_token_len
         |FROM documents""".stripMargin,

    "t2_word_freq" ->
      s"""SELECT word, COUNT(*) AS n
         |FROM (SELECT unnest($toks) AS word FROM documents)
         |GROUP BY word ORDER BY n DESC, word ASC LIMIT 50""".stripMargin,

    // exact despite the engine's sketch pass: freqItems candidates are a
    // guaranteed superset of the > n/(K+1) items, and the recount is exact
    "t8_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest($toks) AS word FROM documents),
         |tot AS (SELECT COUNT(*) AS n_total FROM w)
         |SELECT word, COUNT(*) AS n, n_total
         |FROM w, tot
         |GROUP BY word, n_total
         |HAVING COUNT(*) > n_total / ${HeavyK + 1}.0""".stripMargin,

    // same rational probabilities (count ratios, no libm), same (g, p)
    // sorted sequential fold — scores bit-identical across engines
    "t9_bigram_lm" ->
      s"""WITH $lmScoreCtes
         |SELECT doc_id, n_bigrams, avg_p FROM score""".stripMargin,

    // t12: the t9 score CTEs verbatim, then the c8-style per-lang
    // quantile_cont cut (interpolation parity proven by c8's gate)
    "t12_lm_quality" ->
      s"""WITH $lmScoreCtes,
         |sl AS (SELECT s.doc_id, d.lang, s.n_bigrams, s.avg_p
         |       FROM score s JOIN documents d USING (doc_id)),
         |th AS (SELECT lang, quantile_cont(avg_p, 0.3) AS p30
         |       FROM sl GROUP BY lang)
         |SELECT sl.doc_id, sl.lang, sl.n_bigrams, sl.avg_p, th.p30
         |FROM sl JOIN th USING (lang)
         |WHERE sl.avg_p >= th.p30""".stripMargin,

    // t11: same regex (RE2 ≡ Java here — disjoint alternatives, no
    // lookahead), same exact-integer division
    "t11_subword_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(sub) AS INT) AS n_subwords,
         |  CAST(len(list_distinct(sub)) AS INT) AS n_distinct_subwords,
         |  CAST(len(sub) AS DOUBLE) / len(ws) AS fertility
         |FROM (SELECT doc_id, $toks AS ws,
         |        regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+') AS sub
         |      FROM documents)""".stripMargin,

    // t10: same start grid (0, S, 2S, … < n_tokens — range() mirrors the
    // sequence(0, n-1, S) set exactly), same truncating slice, same shared
    // polynomial fold over the space-joined window.
    "t10_chunking" ->
      s"""WITH tt AS (SELECT doc_id, $toks AS ws FROM documents),
         |c AS (
         |  SELECT doc_id, u['s'] AS s, u['n'] AS n, u['h'] AS h FROM (
         |    SELECT doc_id,
         |      unnest([{'s': i, 'n': len(ws[i+1 : i+$ChunkLen]),
         |               'h': ${polyHashSql(
                  s"array_to_string(ws[i+1 : i+$ChunkLen], ' ')")}}
         |              for i in range(0, len(ws), $ChunkStride)]) AS u
         |    FROM tt WHERE len(ws) >= 1))
         |SELECT doc_id, CAST(s AS INT) AS chunk_start,
         |       CAST(n AS INT) AS n_tokens, h AS chunk_hash
         |FROM c""".stripMargin,

    "t3_quality" ->
      s"""SELECT doc_id, ttr, stopword_ratio,
         |  ttr * 0.5 + (1.0 - stopword_ratio) * 0.5 AS quality_score,
         |  ttr * 0.5 + (1.0 - stopword_ratio) * 0.5 >= 0.6 AS keep
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) AS ttr,
         |    CAST(len(list_filter($toks, w -> list_contains($stopwordsSqlList, w))) AS DOUBLE)
         |      / len($toks) AS stopword_ratio
         |  FROM documents)""".stripMargin,

    "t4_lang_guess" ->
      s"""SELECT doc_id, lang AS lang_declared, r AS en_stopword_ratio,
         |  CASE WHEN r >= 0.05 THEN 'en' ELSE 'und' END AS lang_guess
         |FROM (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter($toks, w -> list_contains($stopwordsSqlList, w))) AS DOUBLE)
         |      / len($toks) AS r
         |  FROM documents)""".stripMargin,

    "t5_fingerprint" ->
      s"""SELECT doc_id,
         |  ${polyHashSql("text")} AS content_hash,
         |  ${polyHashSql(s"array_to_string(list_sort(list_distinct($toks)), ' ')")} AS bag_hash
         |FROM documents""".stripMargin,

    // Mirrors t6 exactly: same hashed-3-gram construction (the shared
    // polynomial fold), same N/df weighting op order, and every float sum is
    // `list(x ORDER BY g, x)` + sequential list_reduce — the bit-identical
    // twin of the Spark SortedTermSum fold (tie key (g, term) both sides).
    "t6_tfidf_pairs" ->
      s"""WITH tt AS (SELECT doc_id, $toks AS ws FROM documents),
         |g3 AS (SELECT doc_id,
         |         unnest([${polyHashSql("ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]")}
         |                 for i in range(0, len(ws) - 2)]) AS g
         |       FROM tt),
         |tf AS (SELECT doc_id, g, count(*)::BIGINT AS tf FROM g3 GROUP BY 1, 2),
         |dfq AS (SELECT g, count(*)::BIGINT AS df FROM tf GROUP BY g
         |        HAVING count(*) <= $MaxTermDf),
         |n AS (SELECT count(*)::BIGINT AS n FROM documents),
         |wts AS (SELECT doc_id, tf.g AS g,
         |          CAST(tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE)) AS wt
         |        FROM tf JOIN dfq ON tf.g = dfq.g CROSS JOIN n),
         |nrm AS (SELECT doc_id,
         |          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |            list(wt * wt ORDER BY g, wt * wt)), (a, x) -> a + x)) AS nrm
         |        FROM wts GROUP BY doc_id),
         |num AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |            list(a.wt * b.wt ORDER BY a.g, a.wt * b.wt)), (a2, x) -> a2 + x) AS num
         |        FROM wts a JOIN wts b ON a.g = b.g AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2)
         |SELECT doc_a, doc_b, num / (x.nrm * y.nrm) AS cos_tfidf
         |FROM num JOIN nrm x ON num.doc_a = x.doc_id
         |         JOIN nrm y ON num.doc_b = y.doc_id
         |WHERE num / (x.nrm * y.nrm) >= 0.5""".stripMargin,

    "t7_repetition" ->
      s"""WITH tt AS (SELECT doc_id, $toks AS ws FROM documents),
         |tok AS (SELECT doc_id, len(ws) AS n, unnest(ws) AS w FROM tt),
         |wc AS (SELECT doc_id, n, w, count(*) AS c FROM tok GROUP BY 1, 2, 3),
         |topw AS (SELECT doc_id, n, max(c) AS maxw FROM wc GROUP BY 1, 2),
         |bg AS (SELECT doc_id,
         |         unnest([${polyHashSql("ws[i+1] || ' ' || ws[i+2]")}
         |                 for i in range(0, len(ws) - 1)]) AS b
         |       FROM tt),
         |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
         |topb AS (SELECT doc_id, max(c) AS maxb FROM bc GROUP BY 1)
         |SELECT topw.doc_id AS doc_id,
         |  CAST(maxw AS DOUBLE) / CAST(n AS DOUBLE) AS top_word_mass,
         |  CAST(maxb AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS top_bigram_mass,
         |  CAST(maxw AS DOUBLE) / CAST(n AS DOUBLE) <= 0.15
         |    AND CAST(maxb AS DOUBLE) / CAST(n - 1 AS DOUBLE) <= 0.10 AS keep
         |FROM topw JOIN topb ON topw.doc_id = topb.doc_id""".stripMargin
  )
}
