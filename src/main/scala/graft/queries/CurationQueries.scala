package graft.queries

import graft.sources.Tables
import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Dataset-curation operators (driver north-star: "the operations a
 * large-scale training-data pipeline would need") — the selection/mixing
 * stages that sit between dedup/quality and training:
 *
 *  - c1 deterministic Bernoulli sampling (seeded, reproducible, map-side)
 *  - c2 stratified sampling: exact k per stratum via the bounded-state
 *    top-k AGGREGATE (no partition-wide sort — the 100 TB shape)
 *  - c3 source mixing: per-source keep rates (down/up-weighting corpora
 *    to a target mixture), map-side
 *  - c4 benchmark decontamination: n-gram overlap against a held-out
 *    eval set via a semi-join on hashed 8-gram shingles
 *  - c5 PII redaction: regex scrubbing of emails/phones (map-side,
 *    codegen'd regexp — zero shuffle)
 *  - c6 shard packing: assign docs to fixed-budget training shards by a
 *    DISTRIBUTED prefix sum (range partition + per-partition scan + a
 *    partition-count-sized offset table — never a global single-reducer
 *    window)
 *  - c7 bloom-pruned decontamination: c4's semi-join shape with a
 *    map-side codegen bloom probe — exact despite the approximation
 *  - c8 per-group quantile gate: keep docs above a per-source percentile
 *    threshold computed from the data (exact for the oracle; mergeable
 *    approx sketch as the scale path)
 *
 * Determinism contract: all "randomness" is the shared polynomial hash
 * ([[graft.text.TextFunctions.polyHash]]) of a salted key, mirrored
 * bit-identically in the DuckDB oracles — re-running any stage on any
 * cluster layout selects the SAME rows (sampling by coin-flip `rand()`
 * would be irreproducible across retries and unverifiable by an oracle).
 */
object CurationQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** The c1 sampler as a standalone transform: STATELESS (pure row-local
    * filter), so the identical code runs on a batch DataFrame or a stream
    * ([[graft.streaming.Streams.sampleStream]]) — and selects the same rows
    * either way, which `rand()`-based sampling cannot promise under stream
    * replays/retries. */
  def hashSampled(documents: DataFrame): DataFrame =
    documents
      .where(samplePred)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  /** c1's row-local keep predicate (keep rate 10%) — the single source of
    * truth shared by the c1 def, the streaming twin, and the composed
    * pipeline's stage 1. */
  private[queries] def samplePred: org.apache.spark.sql.Column =
    saltedHash("smpl", col("doc_id")) % 100 < 10

  /** c3's row-local keep predicate (per-source rate 10/25/50/100% by source
    * index mod 4) — shared by the c3 def and the composed pipeline's
    * mixture stage. The unbounded two-arg substring form is oracle-parity
    * load-bearing (see the c3/c9 comments). */
  private[graft] def mixPred: org.apache.spark.sql.Column = {
    val idx = expr("substring(source, 4)").cast("int")
    val ratePct = element_at(array(lit(10), lit(25), lit(50), lit(100)),
      (idx % 4 + 1).cast("int"))
    saltedHash("mix", col("doc_id")) % 100 < ratePct
  }

  /** Salted uniform hash in [0, HashP): (h² + h) mod P of h = polyHash
    * ("salt:" + key). The square finalizer is load-bearing: the raw
    * polynomial fold is AFFINE in the key's digit polynomial (prefixing a
    * different salt only shifts the hash by a per-digit-count constant mod
    * P), so without it two salts' %100 buckets are nearly deterministic
    * functions of each other — e.g. over ids 1..4000 the c1 10% sample and
    * the c3 25% keep class intersect in ZERO ids instead of ~1%·25%. The
    * quadratic term makes the bucket a nonlinear function of the raw hash,
    * restoring the independence the distinct salts are meant to provide (a
    * doc sampled by c1 is not thereby more or less likely to be picked by
    * c2/c3/c9/c10 — measured joint rates match the products to <0.3%).
    * h < P ≈ 2³⁰, so h² + h < 2⁶¹ stays exact in BIGINT on both engines. */
  private[queries] def saltedHash(salt: String, key: org.apache.spark.sql.Column) = {
    val h = polyHash(concat(lit(salt + ":"), key.cast("string")))
    (h * h + h) % HashP
  }

  /** SQL twin of [[saltedHash]] — the single-element list_transform binds
    * the folded hash once so the finalizer does not re-run the fold. */
  private[queries] def saltedHashSql(salt: String, keyExpr: String) =
    s"list_transform([${polyHashSql(s"'$salt:' || CAST($keyExpr AS VARCHAR)")}], " +
      s"x -> (x * x + x) % $HashP)[1]"

  /** c2: exact per-stratum sample size. */
  private val StratumK = 20

  /** c4: contamination flag threshold (fraction of a doc's distinct 8-grams
    * also present in the benchmark side). */
  private val ContamT = 0.5

  /** c9: total docs the temperature-weighted mixture targets. */
  private val MixTarget = 200

  /** c10: max docs kept per domain — binds on the large en.* domains at the
    * gate scales (12-16 docs each at sf0.01) while small-language domains
    * pass through whole, so the gate exercises both sides of the cap.
    * Shared with the streaming twin ([[graft.streaming.Streams
    * .domainCapStream]]). */
  private[graft] val DomainCap = 8

  /** The (domain, doc_id, score) projection shared by the batch c10 def and
    * its streaming twin — purely row-local (derived key + salted hash), so
    * stream and batch score every document identically under any
    * replay/trigger layout. */
  private[graft] def domainScored(documents: DataFrame): DataFrame =
    documents.select(
      concat(col("lang"), lit("."), col("source")).as("domain"), col("doc_id"),
      (saltedHash("domcap", col("doc_id")).cast("double") / HashP).as("score"))

  /** c10's cap as a reusable selection frame — (domain, rank, doc_id, score),
    * AT MOST `cap` docs per domain from any (lang, source, doc_id)
    * population — ONE definition shared by the gated standalone key (over
    * the raw corpus, cap = [[DomainCap]]) and the composed pipeline's cap
    * stage (p5, over the cut near-dup survivors at the pipeline dial).
    * Selection is the bounded top-k aggregate: map-side combinable,
    * O(domains x cap) shuffle rows, never a domain-wide window sort. */
  private[queries] def domainCapRanked(pop: DataFrame, cap: Int = DomainCap): DataFrame =
    domainScored(pop)
      .groupBy("domain")
      .agg(graft.functions.TopK.topK(col("score"), col("doc_id"), cap).as("tk"))
      .select(col("domain"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("domain"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("doc_id"), col("e.score").as("score"))

  /** c9's temperature-weighted selection as a reusable frame — (source,
    * rank, doc_id, score): per-source targets k_s ∝ sqrt(n_s) of `target`
    * total, EXACTLY k_s docs per source by salted-hash rank — shared by the
    * gated standalone key (target = [[MixTarget]]) and the composed
    * pipeline's mix stage (p5). The weight normalizer is an idx-ordered
    * SortedTermSum fold (bit-identical to the oracle's list_reduce);
    * selection is the bounded top-k aggregate capped at `target` per
    * source — O(sources x target) shuffle rows, never a stratum-wide
    * window sort. */
  private[queries] def temperatureMixRanked(pop: DataFrame, target: Int = MixTarget): DataFrame = {
    // unbounded substring (two-arg SQL form), textually identical to the
    // oracle's `substring(source, 4)` — a bounded-length variant would
    // order the normalizer fold differently for long source suffixes
    val idx = expr("substring(source, 4)").cast("int")
    val cnt = pop.groupBy(col("source"), idx.as("idx"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.agg(graft.functions.VectorFunctions.sortedTermSum(
      collect_list(struct(col("idx").cast("long").as("g"),
        sqrt(col("n")).as("t")))).as("t"))
    val kt = cnt.join(broadcast(tot))
      .select(col("source"),
        floor(lit(target) * sqrt(col("n")) / col("t")).cast("bigint").as("k"))
    val ranked = pop
      .select(col("source"), col("doc_id"),
        (saltedHash("alpha", col("doc_id")).cast("double") / HashP).as("score"))
      .groupBy("source")
      .agg(graft.functions.TopK.topK(col("score"), col("doc_id"), target).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("doc_id"), col("e.score").as("score"))
    ranked.join(broadcast(kt), "source")
      .where(col("rank") <= col("k"))
      .select(col("source"), col("rank"), col("doc_id"), col("score"))
  }

  /** c5: PII patterns — identical dialect subset of Java regex (Spark) and
    * RE2 (DuckDB): character classes, +, bounded repeats only. */
  private[queries] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[queries] val PhoneRe = "555-[0-9]{4}"

  /** c5: the synthetic corpus has no PII (lowercase word salad), so plant it
    * DETERMINISTICALLY from existing columns — both engines derive the same
    * augmented text, making the redaction output value-checkable. Every doc
    * gets one email + one phone; every third doc a second email. */
  private[queries] def piiText(text: Column, docId: Column, source: Column): Column =
    concat(
      text,
      lit(" contact user"), docId.cast("string"),
      lit("@"), source, lit(".example.com or call 555-"),
      lpad((docId % 10000).cast("string"), 4, "0"),
      when(docId % 3 === 0, lit(" and admin@corp.example.org")).otherwise(lit("")))

  private[queries] def piiTextSql: String =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source || " +
      "'.example.com or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' and admin@corp.example.org' ELSE '' END"

  /** c6: shard budget in characters (the token-count stand-in already on the
    * table — keeps the wide text column pruned out of the scan). */
  private[queries] val ShardBudget = 20000L

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Deterministic Bernoulli sample, keep rate 10%: pure map-side filter —
    // no shuffle, no driver state, reproducible under retries/re-runs.
    // 100 TB notes: this is a scan + filter; with the selection pushed to the
    // parquet reader the sample never materializes the skipped 90%. text is
    // NOT selected — column pruning keeps the wide column out of the scan.
    "c1_hash_sample" -> ((s, d) => hashSampled(docs(s, d))),

    // Stratified sampling: EXACTLY k docs per stratum (lang), chosen by the
    // salted hash as a uniform score — via the bounded-state top-k aggregate
    // ([[graft.functions.TopKByScore]]), NOT a row_number window: partial
    // top-k states combine map-side, each map task ships <= k entries per
    // stratum, and no partition-wide sort runs. With a handful of strata and
    // 100 TB of rows, the window form would sort entire strata on single
    // reducers (the classic stratified-sampling straggler); this shuffles
    // O(strata x k) rows total. score = h/P is one IEEE division of exact
    // integers — bit-identical in the oracle.
    "c2_stratified_sample" -> ((s, d) =>
      docs(s, d)
        .select(col("lang"), col("doc_id"),
          (saltedHash("strat", col("doc_id")).cast("double") / HashP).as("score"))
        .groupBy("lang")
        .agg(graft.functions.TopK.topK(col("score"), col("doc_id"), StratumK).as("tk"))
        .select(col("lang"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
          col("e.id").as("doc_id"), col("e.score").as("score"))),

    // Source mixing: per-source keep rates 10/25/50/100% by source index mod
    // 4 — the down/up-weighting step that shapes a training mixture. Same
    // map-side determinism as c1; the rollup reports the achieved mixture
    // (doc and char volume per source).
    "c3_source_mixture" -> ((s, d) =>
      docs(s, d)
        .where(mixPred)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("chars_kept"))),

    // TEMPERATURE-WEIGHTED MIXING (c9, r09): alpha-sampling, the standard
    // LLM data-recipe reweighting — per-source target k_s proportional to
    // n_s^alpha (alpha = 0.5 here, i.e. sqrt: rare sources upweighted
    // relative to their share), then EXACTLY k_s docs per source chosen by
    // salted-hash rank. Fully deterministic: the weight normalizer is an
    // idx-ordered SortedTermSum fold (bit-identical to the oracle's
    // list_reduce), scores are exact-integer divisions, selection is the
    // c2 bounded top-k.
    //
    // 100 TB notes: counts/targets are a sources-row aggregate (tiny,
    // broadcast); selection is the map-side-combinable top-k aggregate
    // capped at MixTarget per source — O(sources x MixTarget) shuffle rows,
    // never a stratum-wide window sort.
    // Factored into [[temperatureMixRanked]] (r17) so the composed pipeline
    // (p5) runs the SAME selection over its survivor set.
    "c9_temperature_mix" -> ((s, d) => temperatureMixRanked(docs(s, d))),

    // PER-DOMAIN CAP (c10, r11): the Gopher/CCNet-style anti-domination
    // stage — derive a domain key from document metadata (lang.source here;
    // a registrable URL host at 100 TB) and keep AT MOST DomainCap docs per
    // domain, chosen by salted-hash rank, so no single crawl domain floods
    // the training mixture. Fully deterministic: the same salted-hash
    // scoring as c1/c2 (exact-integer division), selection via the c2
    // bounded top-k aggregate.
    //
    // 100 TB notes: the top-k aggregate is map-side combinable with
    // per-group state capped at DomainCap entries — O(domains x DomainCap)
    // shuffle rows total, never a domain-wide window sort (the stratified-
    // sampling straggler c2's notes describe). Domain skew (one domain with
    // 10^9 docs) only grows the MAP-side work of that domain's partial
    // aggregates, not any single reducer's state.
    // Factored into [[domainCapRanked]] (r17) — same sharing rationale.
    "c10_domain_cap" -> ((s, d) => domainCapRanked(docs(s, d))),

    // Benchmark decontamination: docs sharing too many distinct hashed
    // 8-gram shingles with a held-out benchmark set (here: doc_id % 20 == 0,
    // standing in for an eval-suite corpus) get flagged. Shape: distinct
    // shingles per doc (codegen ShingleHashes), benchmark gram set distinct,
    // then a LEFT SEMI join counts each candidate's shared grams — no pair
    // fan-out anywhere (a candidate gram matches the bench SET, not each
    // bench doc), so worst case is O(|candidate grams|) join rows.
    // 100 TB notes: real benchmark corpora are tiny relative to training
    // data — the bench gram set broadcasts and the semi-join is map-side;
    // 8-gram shingles are near-unique, so no hot-key cap is needed (cf. the
    // d2/t6 df cap, where 3-grams ARE stop-phrase-prone). Docs under 8 words
    // have no 8-gram and are out of scope on both engines.
    "c4_decontam" -> ((s, d) => {
      val g8 = docs(s, d).select(col("doc_id"),
        explode(graft.functions.VectorFunctions.shingleHashes(col("text"), 8, HashP)).as("g"))
      val bench = g8.where(col("doc_id") % 20 === 0).select("g").distinct()
      // ONE pass over the candidate gram stream: tag each gram against the
      // (tiny, broadcast) bench set with a left join, then count total and
      // shared in the same aggregate — no second scan of the corpus, no
      // second shuffle of the gram stream (the earlier semi-join + totals
      // formulation scanned the candidate side twice).
      val cand = g8.where(col("doc_id") % 20 =!= 0)
        .join(bench.withColumn("hit", lit(true)), Seq("g"), "left")
      val shared = coalesce(col("n_shared"), lit(0L))
      cand.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
             coalesce(sum(when(col("hit"), 1L)), lit(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_grams"), shared.as("n_shared"),
          (shared.cast("double") / col("n_grams")).as("contamination"),
          (shared.cast("double") / col("n_grams") >= ContamT).as("flagged"))
    }),

    // Bloom-pruned decontamination (the c4 semi-join shape at 100 TB): which
    // candidate docs share ANY 8-gram with the benchmark set. The benchmark
    // grams build a broadcast-sized bloom (distributed build, driver merge);
    // the corpus gram stream is pruned MAP-SIDE by the codegen'd
    // [[graft.functions.BloomMightContainLong]] probe — zero shuffle for the
    // ~99.9% of grams that miss — and only survivors (true hits + fpp
    // false positives) reach the exact verify join. No false negatives, so
    // the result is EXACT and shares c4's oracle family. At 100 TB this
    // turns a corpus-wide shuffle into a local filter + a tiny join.
    "c7_decontam_bloom" -> ((s, d) => {
      val g8 = docs(s, d).select(col("doc_id"),
        explode(graft.functions.VectorFunctions.shingleHashes(col("text"), 8, HashP)).as("g"))
      val bench = g8.where(col("doc_id") % 20 === 0).select("g").distinct()
      // size the bloom from the benchmark's own cardinality (one tiny job
      // over the already-distinct bench side)
      val bloom = graft.functions.BloomFunctions.buildLongBloom(
        bench, "g", bench.count(), fpp = 1e-3)
      g8.where(col("doc_id") % 20 =!= 0)
        .where(graft.functions.BloomFunctions.mightContain(bloom, col("g")))
        .join(bench, "g") // exact verify: removes the bloom's false positives
        .select("doc_id").distinct()
    }),

    // PII redaction: count + scrub emails/phones with codegen'd regexp
    // (RegExpReplace/RegExpCount are plain scalar expressions — the whole
    // query is scan → project, embarrassingly parallel, zero shuffle; at
    // 100 TB this is the shape you want for a full-corpus scrub pass).
    // The redacted text itself is summarized as (length, polyHash) so the
    // oracle compares values without shipping megabyte strings around.
    "c5_pii_redact" -> ((s, d) => {
      val full = piiText(col("text"), col("doc_id"), col("source"))
      val redacted = regexp_replace(
        regexp_replace(full, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
      docs(s, d).select(
        col("doc_id"),
        regexp_count(full, lit(EmailRe)).cast("int").as("n_emails"),
        regexp_count(full, lit(PhoneRe)).cast("int").as("n_phones"),
        length(redacted).as("redacted_len"),
        polyHash(redacted).as("redacted_hash"))
    }),

    // Shard packing: pack docs (ordered by a salted hash — a deterministic
    // global shuffle order) into fixed-budget shards by cumulative size.
    // shard = floor(running_total_before_doc / budget).
    //
    // 100 TB notes: the naive formulation is SUM() OVER (ORDER BY k) — a
    // GLOBAL window, which Spark executes on a single partition: the classic
    // scale-killer. This is instead a distributed prefix sum:
    //   1. repartitionByRange(k) + sortWithinPartitions — Spark's normal
    //      distributed sort machinery, all partitions parallel;
    //   2. per-partition running sums in ONE narrow pass (mapPartitions — a
    //      prefix SCAN is genuinely per-partition imperative logic, the
    //      documented escape hatch);
    //   3. per-partition totals via a partially-aggregated groupBy (the
    //      shuffle carries ONE row per partition), a window over that
    //      partition-count-sized table for offsets, broadcast back.
    // Row order inside a range partition is unique ((k, doc_id) has no ties)
    // and offsets reconstruct the exact global prefix sum, so the output is
    // IDENTICAL no matter how many partitions the range split chose.
    "c6_shard_pack" -> ((s, d) => shardPackOf(docs(s, d), ShardBudget)),

    // PER-GROUP QUANTILE GATE (c8, r08): keep each source's longest-quartile
    // docs — the "filter by a per-corpus score threshold" stage every
    // curation pipeline has, with the threshold COMPUTED from the data, not
    // configured. Exact `percentile` (== DuckDB quantile_cont, parity proven
    // by q25) per source; thresholds are one tiny row per source, broadcast
    // back, so the doc stream is filtered with NO second shuffle. Exact
    // `percentile` is the one path: it collects each group's values, which
    // is what DuckDB parity needs.
    "c8_quantile_filter" -> ((s, d) => {
      val dcs = docs(s, d)
      val th = dcs.groupBy("source")
        .agg(expr("percentile(n_chars, 0.75)").as("p75"))
      dcs.join(broadcast(th), "source")
        .where(col("n_chars").cast("double") >= col("p75"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("p75"))
    })
  )

  /** The c6 distributed prefix-sum pipeline on any (doc_id, n_chars) frame —
    * parametric for the property spec (which checks it against a sequential
    * driver-side pack across random corpora and partition counts). */
  private[queries] def shardPackOf(documents: DataFrame, budget: Long): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val ranged = documents
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        saltedHash("shard", col("doc_id")).as("k"))
      .repartitionByRange(col("k"), col("doc_id"))
      .sortWithinPartitions("k", "doc_id")
      .withColumn("pid", spark_partition_id())
    val offsets = ranged.groupBy("pid").agg(sum("n_chars").as("ptot"))
      .withColumn("offset",
        coalesce(sum("ptot").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pid", "offset")
    val cum = ranged.select(col("pid"), col("k"), col("doc_id"), col("n_chars"))
      .as[(Int, Long, Long, Long)]
      .mapPartitions { it =>
        var run = 0L
        it.map { case (pid, _, id, n) =>
          val before = run; run += n; (pid, id, n, before)
        }
      }
      .toDF("pid", "doc_id", "n_chars", "before_in")
    cum.join(broadcast(offsets), "pid")
      .select(col("doc_id"), col("n_chars"),
        // integer division (div): exact at any corpus size — a double
        // division would lose precision past 2^53 total chars
        expr(s"(before_in + offset) div $budget").as("shard"))
  }

  private val toks = tokensSql("text")

  private[queries] def gram8Sql: String =
    polyHashSql((1 to 8).map(j => s"ws[i+$j]").mkString(" || ' ' || "))

  /** c10's oracle CTE family over any (lang, source, doc_id) relation
    * `src`, names prefixed `p` — `${p}dh` (scored) and `${p}dcap` (the
    * kept rows: domain, doc_id, score, rank ≤ `cap`). ONE formula shared
    * by the standalone c10 oracle (src = documents, p = "") and the p5
    * pipeline oracle (re-anchored to the cut near-dup survivors at the
    * pipeline dial) — the [[PipelineQueries]] spanCtesFor idiom. */
  private[queries] def domainCapCtesFor(src: String, p: String,
                                        cap: Int = DomainCap): String =
    s"""${p}dh AS MATERIALIZED (
       |  SELECT lang || '.' || source AS domain, doc_id,
       |    CAST(${saltedHashSql("domcap", "doc_id")} AS DOUBLE) / $HashP AS score
       |  FROM $src),
       |${p}dcap AS MATERIALIZED (
       |  SELECT domain, doc_id, score, rank FROM (
       |    SELECT domain, doc_id, score,
       |      ROW_NUMBER() OVER (PARTITION BY domain ORDER BY score DESC, doc_id ASC) AS rank
       |    FROM ${p}dh)
       |  WHERE rank <= $cap)""".stripMargin

  /** c9's oracle CTE family over any (source, doc_id) relation `src`,
    * names prefixed `p` — `${p}tcnt`/`${p}ttot`/`${p}tkt` (sqrt-weighted
    * per-source targets of `target` total) and `${p}tmix` (the kept rows:
    * source, rank, doc_id, score). Shared by the standalone c9 oracle and
    * the p5 pipeline oracle, same contract as [[domainCapCtesFor]]. */
  private[queries] def temperatureMixCtesFor(src: String, p: String,
                                             target: Int = MixTarget): String =
    s"""${p}tcnt AS MATERIALIZED (
       |  SELECT source, CAST(substring(source, 4) AS INT) AS idx, COUNT(*) AS n
       |  FROM $src GROUP BY 1, 2),
       |${p}ttot AS MATERIALIZED (
       |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(sqrt(CAST(n AS DOUBLE)) ORDER BY idx)), (a, x) -> a + x) AS t
       |  FROM ${p}tcnt),
       |${p}tkt AS MATERIALIZED (
       |  SELECT source,
       |         CAST(FLOOR($target * sqrt(CAST(n AS DOUBLE)) / ${p}ttot.t) AS BIGINT) AS k
       |  FROM ${p}tcnt CROSS JOIN ${p}ttot),
       |${p}tr AS MATERIALIZED (
       |  SELECT source, doc_id,
       |         CAST(${saltedHashSql("alpha", "doc_id")} AS DOUBLE) / $HashP AS score,
       |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY
       |           CAST(${saltedHashSql("alpha", "doc_id")} AS DOUBLE) / $HashP DESC,
       |           doc_id ASC) AS rank
       |  FROM $src),
       |${p}tmix AS MATERIALIZED (
       |  SELECT ${p}tr.source AS source, rank, doc_id, score
       |  FROM ${p}tr JOIN ${p}tkt USING (source) WHERE rank <= k)""".stripMargin

  val oracles: Map[String, String] = Map(
    "c1_hash_sample" ->
      s"""SELECT doc_id, lang, source, n_chars
         |FROM documents
         |WHERE ${saltedHashSql("smpl", "doc_id")} % 100 < 10""".stripMargin,

    "c2_stratified_sample" ->
      s"""WITH h AS (
         |  SELECT lang, doc_id,
         |    CAST(${saltedHashSql("strat", "doc_id")} AS DOUBLE) / $HashP AS score
         |  FROM documents)
         |SELECT lang, CAST(rank AS INT) AS rank, doc_id, score FROM (
         |  SELECT lang, doc_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM h)
         |WHERE rank <= $StratumK""".stripMargin,

    // Mirrors c10 exactly: same domain derivation, salted-hash scores,
    // ROW_NUMBER twin of the bounded top-k aggregate — the CTE family is
    // [[domainCapCtesFor]], shared verbatim with the p5 pipeline oracle.
    "c10_domain_cap" ->
      s"""WITH ${domainCapCtesFor("documents", "")}
         |SELECT domain, CAST(rank AS INT) AS rank, doc_id, score FROM dcap""".stripMargin,

    "c3_source_mixture" ->
      s"""SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars_kept
         |FROM (
         |  SELECT source, n_chars,
         |    [10, 25, 50, 100][CAST(CAST(substring(source, 4) AS INT) % 4 + 1 AS INT)] AS rate
         |  FROM documents
         |  WHERE ${saltedHashSql("mix", "doc_id")} % 100 <
         |    [10, 25, 50, 100][CAST(CAST(substring(source, 4) AS INT) % 4 + 1 AS INT)])
         |GROUP BY source""".stripMargin,

    // Mirrors c9 exactly: same idx-ordered fold for the sqrt-weight
    // normalizer, same exact-integer hash scores, same floor'd targets —
    // the CTE family is [[temperatureMixCtesFor]], shared verbatim with
    // the p5 pipeline oracle.
    "c9_temperature_mix" ->
      s"""WITH ${temperatureMixCtesFor("documents", "")}
         |SELECT source, CAST(rank AS INT) AS rank, doc_id, score FROM tmix""".stripMargin,

    "c4_decontam" ->
      s"""WITH tt AS (SELECT doc_id, $toks AS ws FROM documents),
         |g8 AS (SELECT DISTINCT doc_id, g FROM (
         |  SELECT doc_id, unnest([$gram8Sql for i in range(0, len(ws) - 7)]) AS g
         |  FROM tt)),
         |bench AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 20 = 0),
         |cand AS (SELECT doc_id, g FROM g8 WHERE doc_id % 20 <> 0),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM cand GROUP BY 1),
         |hit AS (SELECT c.doc_id, count(*) AS n_shared
         |        FROM cand c JOIN bench b ON c.g = b.g GROUP BY 1)
         |SELECT tot.doc_id AS doc_id,
         |  CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
         |  CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_grams AS contamination,
         |  CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_grams >= $ContamT AS flagged
         |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id""".stripMargin,

    // exact semantics despite the engine's bloom prune (no false negatives;
    // false positives die at the verify join) — the oracle is bloom-free
    "c7_decontam_bloom" ->
      s"""WITH tt AS (SELECT doc_id, $toks AS ws FROM documents),
         |g8 AS (SELECT DISTINCT doc_id, g FROM (
         |  SELECT doc_id, unnest([$gram8Sql for i in range(0, len(ws) - 7)]) AS g
         |  FROM tt)),
         |bench AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 20 = 0),
         |cand AS (SELECT doc_id, g FROM g8 WHERE doc_id % 20 <> 0)
         |SELECT DISTINCT c.doc_id AS doc_id
         |FROM cand c JOIN bench b ON c.g = b.g""".stripMargin,

    "c5_pii_redact" ->
      s"""WITH aug AS (SELECT doc_id, $piiTextSql AS t FROM documents),
         |red AS (SELECT doc_id, t,
         |  regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
         |                 '$PhoneRe', '<PHONE>', 'g') AS r
         |  FROM aug)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INT) AS n_phones,
         |  CAST(len(r) AS INT) AS redacted_len,
         |  ${polyHashSql("r")} AS redacted_hash
         |FROM red""".stripMargin,

    "c6_shard_pack" ->
      s"""WITH h AS (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |    ${saltedHashSql("shard", "doc_id")} AS k
         |  FROM documents)
         |SELECT doc_id, n_chars,
         |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY k, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    // $ShardBudget AS shard
         |FROM h""".stripMargin,

    // Spark exact `percentile` == DuckDB `quantile_cont` (q25 precedent);
    // identical interpolation makes even >=-boundary decisions agree
    "c8_quantile_filter" ->
      """WITH th AS (SELECT source, quantile_cont(n_chars, 0.75) AS p75
        |            FROM documents GROUP BY source)
        |SELECT doc_id, d.source AS source, n_chars, p75
        |FROM documents d JOIN th ON d.source = th.source
        |WHERE CAST(n_chars AS DOUBLE) >= p75""".stripMargin
  )
}
