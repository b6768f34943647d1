package graft.queries

import graft.Checkpoints.EagerOps
import graft.sources.Tables
import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * p1: the COMPOSED curation pipeline — the artifact a training run actually
 * consumes, built by chaining the per-stage operators the gate already
 * proves individually into ONE dataflow:
 *
 *   c1 hash-sample → c7 bloom decontam → t12 LM-quality gate →
 *   d3 near-dup admission → c3 mixture → c6 shard-pack
 *
 * Each stage runs on the SURVIVOR set of the previous one — the real
 * pipeline semantics (the quality LM is trained on the post-decontam
 * corpus, near-dup pairs are generated among quality survivors, …), which
 * per-stage gates structurally cannot cover: stage composition is exactly
 * where column contracts, double filtering, and order sensitivity break.
 *
 * Output: ONE row per corpus document — (doc_id, kept_reason, shard) —
 * where kept_reason is a stage bitmap (bit set = the doc reached the stage
 * and passed it; a doc dropped at stage k has all later bits 0, so the
 * bitmap is monotone) and shard is the c6 pack assignment for fully-kept
 * docs (NULL otherwise). A training job reads `kept_reason = 31`; an audit
 * reads the bitmap histogram.
 *
 * p2: the DAY-2 pipeline — incremental admission of a new arrival batch
 * against the corpus p1 built, see [[incrementalAdmissionOf]].
 *
 * 100 TB notes: the base corpus is checkpointed ONCE and every stage
 * derives from it — one parquet scan feeds the whole chain (PlanSpec pins
 * the final plan re-reads no parquet). All five projected columns are
 * consumed downstream (text→grams/LM, lang→thresholds, source→mixture,
 * n_chars→shards), so the single-scan shape loses nothing to column
 * pruning. Per stage the scale shapes are inherited from the proven
 * operators: the bench gram set blooms map-side (c7), per-lang thresholds
 * broadcast (t12),
 * banding bounds the candidate join (d3), the shard pack is the c6
 * distributed prefix sum. The verdict assembly left-joins five SHRINKING
 * doc_id sets keyed by doc_id — O(sample) rows each after stage 1.
 */
object PipelineQueries {

  /** kept_reason bits, in stage order. */
  val BitSampled = 1
  val BitDecontam = 2
  val BitQuality = 4
  val BitNearDup = 8
  val BitMixture = 16
  /** All stages passed — the trained-on set. */
  val KeptAll: Int = BitSampled | BitDecontam | BitQuality | BitNearDup | BitMixture

  /** p5 kept_reason bits for the curated tail (the first four stages reuse
    * p1/p4's bits): bit 16 = c10 domain cap passed, bit 32 = c9 temperature
    * mix selected. Bit 16 deliberately shares p1's BitMixture POSITION —
    * both are "the stage-5 selection" of their pipeline — but the p5 gate
    * never mixes the two keys' bitmaps. */
  val BitDomainCap = 16
  val BitTempMix = 32
  /** p5's recipe dials, replayed verbatim in the oracle: the composed cap
    * and mix run over the SURVIVOR set (a quality-gated, deduped fraction
    * of the corpus), so the standalone keys' corpus-sized constants
    * ([[CurationQueries.DomainCap]] 8 over ~all docs, MixTarget 200) would
    * never bind there at gate scales — a cap that caps nothing gates
    * nothing. 4-per-domain / 24-total bind from sf0.01 up (sf0.01: ~30
    * survivors over ~10 sources → k_s ≈ 2). A 100 TB deploy sets its own
    * targets; these are the gate's. */
  val PipeDomainCap = 4
  val PipeMixTarget = 24

  /** p2 admit_reason bits, in stage order (the batch has no sample stage —
    * arrival IS the selection — and no shard stage: admitted docs join the
    * corpus; shards are repacked by the periodic compaction, not per batch). */
  val Bit2Decontam = 1
  val Bit2Quality = 2
  val Bit2Admitted = 4
  val Bit2Mixture = 8
  /** All batch stages passed — the docs that enter the training corpus. */
  val AdmittedAll: Int = Bit2Decontam | Bit2Quality | Bit2Admitted | Bit2Mixture

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_pipeline" -> ((s, d) => pipelineOf(stagesFor(s, d))),
    "p2_incremental_pipeline" -> ((s, d) => admissionFor(s, d)),
    // Day-3 corpus maintenance (p3, r14; VERDICT r13 "What's missing" #2 —
    // the merge existed only as disconnected pieces): admitted batch ∪ kept
    // corpus, re-packed into shards as ONE flow. See [[corpusMaintenanceOf]].
    "p3_corpus_maintenance" ->
      ((s, d) => corpusMaintenanceOf(stagesFor(s, d), admissionFor(s, d))),
    // The pipeline with the substring cut in the flow (p4, r15; VERDICT r14
    // "What's missing" #1 — d15's rewritten corpus fed nothing): quality
    // survivors → d14/d15 cut → d3-on-cut-text → mixture → c6 pack on the
    // REWRITTEN lengths. See [[pipelineCutOf]].
    "p4_pipeline_cut" -> ((s, d) => pipelineCutOf(stagesFor(s, d))),
    // p4 on the d16 ANCHOR DIAL (r16; VERDICT r15 "What's missing" #1 —
    // the dial was documented but nothing could run the composition): the
    // cut consumes mod-sampled anchor spans built from the SAME staged
    // gram scan. See [[pipelineCutAnchoredOf]].
    "p4_pipeline_cut_anchored" -> ((s, d) => pipelineCutAnchoredOf(stagesFor(s, d))),
    // The CURATED pipeline (p5, r17; VERDICT r16 "What's missing" #1 — the
    // two gated curation operators a real Gopher/CCNet-style recipe runs
    // between admission and packing, c10 domain cap and c9 temperature
    // mix, were gated standalone but inexpressible in the p-family):
    // quality → cut → near-dup → DOMAIN CAP → TEMPERATURE MIX → pack.
    // See [[pipelineCuratedOf]].
    "p5_pipeline_curated" -> ((s, d) => pipelineCuratedOf(stagesFor(s, d))),
    // The SHIPPED pipeline (p6, r17): p5 + c5 PII redaction between the
    // mix and the pack — the artifact that actually leaves the building is
    // the redacted one, and redaction rewrites text, so the shard pack must
    // run on REDACTED lengths. See [[pipelineShippedOf]].
    "p6_pipeline_shipped" -> ((s, d) => pipelineShippedOf(stagesFor(s, d))),
    // DAY-3 of the CURATED pipeline (p7, r18; VERDICT r17 "What's missing"
    // #2 — p3 closes the loop for the flat flow only and packs
    // pre-redaction chars): cap + mix RE-SELECTED over corpus ∪ admitted
    // arrivals, redacted, re-packed on the REDACTED lengths. See
    // [[curatedMaintenanceOf]].
    "p7_curated_maintenance" -> ((s, d) => maintenanceFor(s, d))
  )

  /** The day-2 admission verdict memoized per (session, sfDir): p2 gates it
    * and p3 consumes its `admitted` set — production reads yesterday's
    * persisted verdict, it does not re-run admission per downstream job.
    * Checkpointed so p3's two derivations (admitted semi-join + spine) read
    * materialized blocks; freed via [[clearCaches]]. */
  private val admissionCache = new SessionCache[String]

  private def admissionFor(s: SparkSession, d: String): DataFrame =
    admissionCache.getOrElseUpdate(s, d)(SharedBuilds.timed("pipeline_day2_admission")(
      // r19: self-contained dedup stage — the r18 staged-slice plumbing was
      // measured slower on both the driver and here; see the note in
      // [[incrementalAdmissionOf]]'s stage 3.
      incrementalAdmissionOf(stagesFor(s, d)).eagerCheckpoint()))

  /** The day-3 curated-maintenance verdict memoized per (session, sfDir) —
    * the [[admissionFor]] convention: production runs the nightly
    * re-selection ONCE per compaction and every downstream job reads the
    * persisted verdict; the bench attributes the build to
    * `pipeline_day3_curated` like the other shared builds. */
  private val maintenanceCache = new SessionCache[String]

  private def maintenanceFor(s: SparkSession, d: String): DataFrame =
    maintenanceCache.getOrElseUpdate(s, d)(SharedBuilds.timed("pipeline_day3_curated")(
      curatedMaintenanceOf(stagesFor(s, d), admissionFor(s, d)).eagerCheckpoint()))

  /** Day-1 artifacts memoized per (session, sfDir): p1 and p2 share ONE
    * corpus build — exactly the production shape, where day 2 reads day-1's
    * persisted artifacts instead of recomputing them — and the bench
    * attributes the build to `pipeline_day1` like every other family's
    * shared build. Entries hold a weak session ref and dead/stopped-session
    * entries are purged on access (the [[SessionCache]] discipline; the
    * frames' localCheckpoint blocks die with their context, purging drops
    * the plan objects). */
  private val stagesCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (java.lang.ref.WeakReference[SparkSession], CorpusStages)]

  // synchronized (ADVICE r13): TrieMap.getOrElseUpdate can evaluate the
  // builder twice under concurrent first access, and the losing
  // CorpusStages would leak its eager-checkpoint blocks (including the
  // full corpus materialization) until GC. The lock serializes the miss
  // path — exactly the behavior wanted for an expensive day-1 build — at
  // the cost of a map-probe-sized critical section on hits.
  private def stagesFor(s: SparkSession, d: String): CorpusStages = stagesCache.synchronized {
    stagesCache.filterInPlace { case (_, (ref, st)) =>
      val alive = Option(ref.get()).exists(ss => !ss.sparkContext.isStopped)
      if (!alive) st.free() // dead session: drop its checkpoint blocks too
      alive
    }
    stagesCache.getOrElseUpdate((SessionCache.idOf(s), d), {
      // construction AND the whole day-1 chain run inside the build
      // attribution (the constructor already checkpoints the corpus scan;
      // each lazy val materializes as it is touched): the bench then
      // reports p1/p2 NET of the shared corpus build
      val st = SharedBuilds.timed("pipeline_day1") {
        val built = new CorpusStages(docs(s, d))
        val _ = (built.bloom, built.s5, built.thFrozen)
        built
      }
      (new java.lang.ref.WeakReference(s), st)
    })._2
  }

  /** Evict one session's memoized day-1 stages, unpersisting their
    * checkpoints (bench per-pass hygiene — without the free(), each pass
    * would stack another full set of stage blocks until GC). */
  def clearCaches(s: SparkSession): Unit = {
    admissionCache.clear(s)
    maintenanceCache.clear(s)
    stagesCache.synchronized {
      stagesCache.keys.filter(_._1 == SessionCache.idOf(s)).foreach { k =>
        stagesCache.remove(k).foreach(_._2.free())
      }
    }
  }

  /** The day-1 corpus-build stage frames, shared by the p1 verdict assembly
    * and the p2 batch pipeline (which needs the DAY-1 bench gram set, the
    * FROZEN quality model + thresholds, and the KEPT corpus). Lazy vals keep
    * the dataflow identical to the original inline chain: each stage frame
    * materializes once, on first use, in stage order. */
  /** `anchorStride` is [[cutDocsAnchored]]'s recall/shuffle dial (gram is an
    * anchor iff hash % stride == 0; span-miss P ≈ (1-1/stride)^(L-K+1)) —
    * the gated key runs the library default, a 100 TB deploy whose survivor
    * set needs a coarser dial passes its own. */
  /** `domainCap`/`mixTarget` are p5's recipe dials (gated key runs the
    * [[PipeDomainCap]]/[[PipeMixTarget]] defaults; a deploy passes its own —
    * the anchorStride convention). */
  private[queries] final class CorpusStages(documents0: DataFrame,
      anchorStride: Int = DedupQueries.AnchorStride,
      val domainCap: Int = PipeDomainCap,
      val mixTarget: Int = PipeMixTarget) {
    private val B = graft.functions.BloomFunctions

    // every checkpoint this instance materializes, so cache eviction can
    // unpersist the blocks instead of leaking them until GC (the
    // SessionCache handle.free() discipline, ADVICE r03)
    private val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private def own(df: DataFrame): DataFrame = owned.synchronized { owned += df; df }
    /** Checkpoint a DERIVED frame into this instance's lifecycle — for the
      * day-3 maintenance intermediates (p7), which are built outside the
      * lazy stage set (they need the admission verdict) but must free with
      * the stages. */
    private[queries] def ownEager(df: DataFrame): DataFrame = own(df.eagerCheckpoint())
    /** Unpersist every checkpoint this instance forced (best-effort). */
    def free(): Unit = owned.synchronized {
      owned.foreach(graft.Checkpoints.free); owned.clear()
    }

    val documents: DataFrame = own(documents0
      .select("doc_id", "lang", "source", "n_chars", "text")
      .eagerCheckpoint()) // the ONE corpus materialization the chain reads

    private[queries] def g8(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(graft.functions.VectorFunctions.shingleHashes(col("text"), 8, HashP)).as("g"))

    // stage 1 — c1: deterministic 10% hash sample (pure row-local filter)
    lazy val s1: DataFrame = own(documents.where(CurationQueries.samplePred).eagerCheckpoint())

    // stage 2 — c7: benchmark decontamination. The bench slice (held-out
    // suite stand-in, doc_id % 20 == 0) comes from the FULL corpus — the
    // benchmark is external to the sample — and bench members themselves
    // are never training data. Bloom prune map-side, exact verify join.
    // bench is checkpointed: four consumers (count, bloom build, the s2
    // verify join, p2's bhit join) would otherwise each re-run the
    // full-corpus 8-gram explode + distinct.
    lazy val bench: DataFrame = own(
      g8(documents.where(col("doc_id") % 20 === 0)).select("g").distinct().eagerCheckpoint())
    // driver-resident for the SESSION (VERDICT r13 nit): the memoized day-1
    // stages keep this bitset alive — free()/clearCaches drop checkpoints,
    // not the array. Sized from the bench gram count at fpp 1e-3 it is
    // small (one bloom per session); anyone scaling the bench set or
    // tightening fpp should budget the resulting driver bytes, or switch to
    // c7's distributed-build/driver-merge recipe before growing it.
    lazy val bloom: Array[Byte] =
      B.buildLongBloom(bench, "g", bench.count(), fpp = 1e-3)
    lazy val s2: DataFrame = {
      val hit = g8(s1.where(col("doc_id") % 20 =!= 0))
        .where(B.mightContain(bloom, col("g")))
        .join(bench, "g").select("doc_id").distinct()
      own(s1.where(col("doc_id") % 20 =!= 0)
        .join(hit, Seq("doc_id"), "left_anti")
        .eagerCheckpoint()) // feeds the LM build twice + the lang join
    }

    /** The corpus bigram instance table, extracted ONCE: five consumers
      * (th's scorer, s3's scorer, thFrozen's LOO tables, p2's cnt/pre)
      * would otherwise each re-run the full-corpus tokenize + explode. */
    lazy val corpusInst: DataFrame =
      own(TextQueries.bigramInstancesOf(s2).eagerCheckpoint())

    // stage 3 — t12: LM-quality gate, model TRAINED ON THE SURVIVORS (the
    // published recipe scores against the corpus being curated, not some
    // fixed external corpus), per-lang 30th-percentile cut. `sl` is shared
    // by th and s3 (tiny: one row per scored doc).
    private lazy val sl: DataFrame = own(
      TextQueries.bigramLmScoresFromInstances(corpusInst)
        .join(s2.select("doc_id", "lang"), "doc_id").eagerCheckpoint())
    lazy val th: DataFrame =
      sl.groupBy("lang").agg(expr("percentile(avg_p, 0.3)").as("p30"))

    /** p2's FROZEN admission bar: per-lang p30 of LEAVE-ONE-OUT corpus
      * scores — each corpus doc scored against the model MINUS its own
      * counts, exactly how a day-2 arrival sees the model. The in-corpus
      * threshold `th` is biased UP by self-counts (each doc's own
      * occurrences inflate c(g) for its bigrams): measured at sf0.01,
      * in-corpus p30 ≈ 0.041-0.043 while out-of-model scores of
      * corpus-typical docs read ≈ 0.031-0.040 — the naive frozen bar
      * rejects EVERY arrival. LOO removes the bias (p30 ≈ 0.029-0.033;
      * ~62% of decontam survivors pass, consistent with a 30th-pct bar),
      * and is a day-1 artifact: O(corpus-instances) joins keyed by
      * g/pg/doc, computed once, never per batch. */
    lazy val thFrozen: DataFrame = {
      val inst = corpusInst // one shared extraction, already checkpointed
      val cnt = inst.groupBy("g").agg(count(lit(1)).as("c"))
      val pre = inst.groupBy("pg").agg(count(lit(1)).as("c1"))
      val owng = inst.groupBy("doc_id", "g").agg(count(lit(1)).as("og"))
      val ownp = inst.groupBy("doc_id", "pg").agg(count(lit(1)).as("op"))
      val ploo = inst.join(cnt, "g").join(pre, "pg")
        .join(owng, Seq("doc_id", "g")).join(ownp, Seq("doc_id", "pg"))
        .select(col("doc_id"), col("g"),
          when(col("c1") - col("op") > 0,
            (col("c") - col("og")).cast("double") / (col("c1") - col("op")).cast("double"))
            .otherwise(lit(0.0)).as("p"))
      val scoreLoo = ploo.groupBy("doc_id").agg(
        (graft.functions.VectorFunctions.sortedTermSum(
          collect_list(struct(col("g").as("g"), col("p").as("t"))))
          / count(lit(1))).as("avg_p"))
      own(scoreLoo.join(s2.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(expr("percentile(avg_p, 0.3)").as("p30"))
        .eagerCheckpoint()) // tiny (one row per lang); fixes the LOO cost here
    }
    lazy val s3: DataFrame = {
      val passQ = sl.join(broadcast(th), "lang")
        .where(col("avg_p") >= col("p30")).select("doc_id")
      own(s2.join(passQ, Seq("doc_id")).eagerCheckpoint()) // feeds shingles + 3 verdict joins
    }

    // stage 4 — d3: near-dup admission among quality survivors. Banding
    // proposes, exact Jaccard verifies; the pair's min doc_id is kept
    // (d10's per-pair keep-rule family — admission, not clustering).
    // Checkpointed: the LSH reject pass over s3 is the chain's most
    // expensive stage, and s4 otherwise re-executes it for s5 AND the
    // verdict's flag join. (r18 note: staging s3's shingles/bands as extra
    // owned checkpoints here was tried and REVERTED — at bench scale the
    // two materialization jobs + resident blocks cost more than the
    // recompute they saved; r19 likewise reverted the day-2 gate's
    // session-table semi-join slices to the self-contained shape, see
    // [[incrementalAdmissionOf]] stage 3.)
    lazy val s4: DataFrame = own {
      val rejected = DedupQueries.minhashLshOf(DedupQueries.shingleSetsOf(s3))
        .select(col("doc_b").as("doc_id")).distinct()
      s3.join(rejected, Seq("doc_id"), "left_anti").eagerCheckpoint()
    }

    // stage 5 — c3: mixture keep-rates by source (row-local filter)
    lazy val s5: DataFrame = own(s4.where(CurationQueries.mixPred).eagerCheckpoint()) // feeds pack + verdict

    // ---- p4's cut branch (VERDICT r14 missing #1): the substring-cut
    // rewrite BETWEEN the quality gate and the downstream stages — d15's
    // deliverable finally consumed by the composed flow. Quality survivors
    // are span-detected (d14) and rewritten keep-first (d15); near-dup
    // admission, mixture, and the shard pack then run on the REWRITTEN
    // text. Lazy like every stage: p1/p2/p3 never touch these frames.

    /** s3's raw all-position gram postings, staged ONCE (owned checkpoint):
      * unstaged, the gram scan — the span family's heaviest map stage —
      * re-executes on the cap aggregate, the semi-join probe and both
      * candidate self-join sides (the DedupQueries.gramPostings rationale,
      * here over the derived survivor set), and is SHARED by the exact
      * span build ([[cutDocs]]) and the anchor dial ([[cutDocsAnchored]]):
      * anchor-ness is a gram-hash property, one filter over these blocks. */
    private lazy val s3Grams: DataFrame =
      own(DedupQueries.rawGramPostings(s3).eagerCheckpoint())

    /** Quality survivors rewritten with duplicated spans cut:
      * (doc_id, lang, source, n_cut, text) — text is the d15 rewrite.
      * Checkpointed: feeds the cut-d3 shingle build, the anti-join spine,
      * and the verdict's n_cut column. */
    lazy val cutDocs: DataFrame = own(
      cutRewrite(DedupQueries.spansFromRaw(s3Grams)).eagerCheckpoint())

    /** [[cutDocs]] with the d16 ANCHOR DIAL as the span stage (VERDICT r15
      * missing #1 — the scaladoc named the dial but no entry point ran the
      * composition): mod-sampled content-defined anchors cut the posting
      * self-join's volume ~[[DedupQueries.AnchorStride]]×; surviving spans
      * are exact maximal intervals in the SAME schema, so the d15 cut
      * consumes them unchanged. The trade is the documented closed-form
      * recall dial — a shared span none of whose grams is an anchor is
      * missed (P ≈ (1-1/stride)^(L-K+1), negligible for the long
      * boilerplate spans the pass exists for) — making this the variant
      * for corpora whose SURVIVOR set is still too big for all-position
      * postings. */
    lazy val cutDocsAnchored: DataFrame = own(
      cutRewrite(DedupQueries.anchorSpansFromRaw(s3, s3Grams, anchorStride))
        .eagerCheckpoint())

    private def cutRewrite(spans: DataFrame): DataFrame = {
      val cut = DedupQueries.substringCutOf(s3, spans)
      s3.select("doc_id", "lang", "source")
        .join(cut.select("doc_id", "n_cut", "text"), "doc_id")
    }

    // stage 4' — d3 over the CUT text: a pair that was near-dup only via a
    // now-cut boilerplate span is NOT rejected here — admission reflects
    // the text that ships, which is the point of cutting first
    lazy val s4c: DataFrame = own(admitCut(cutDocs).eagerCheckpoint())
    /** stage 4' on the anchor-dial rewrite. */
    lazy val s4ca: DataFrame = own(admitCut(cutDocsAnchored).eagerCheckpoint())

    private def admitCut(cut: DataFrame): DataFrame = {
      val rejected = DedupQueries.minhashLshOf(DedupQueries.shingleSetsOf(cut))
        .select(col("doc_b").as("doc_id")).distinct()
      cut.join(rejected, Seq("doc_id"), "left_anti")
    }

    // stage 5' — mixture over the cut survivors (row-local filter)
    lazy val s5c: DataFrame = own(s4c.where(CurationQueries.mixPred).eagerCheckpoint())
    /** stage 5' on the anchor-dial rewrite. */
    lazy val s5ca: DataFrame = own(s4ca.where(CurationQueries.mixPred).eagerCheckpoint())

    // ---- p5's curated tail (VERDICT r16 missing #1): the anti-domination
    // cap and the temperature mix BETWEEN admission and packing — the two
    // stages whose composition changes downstream shard contents (a capped
    // domain removes docs from the pack; the mix reweights sources).

    /** stage 5'' — c10: at most [[PipeDomainCap]] docs per lang.source
      * domain among the cut near-dup survivors, by salted-hash rank (the
      * [[CurationQueries.domainCapRanked]] family at the pipeline dial).
      * Checkpointed: feeds the mix stage AND the verdict flag join. */
    lazy val s5cap: DataFrame = own(
      s4c.join(CurationQueries.domainCapRanked(s4c, domainCap).select("doc_id"),
        Seq("doc_id"), "left_semi").eagerCheckpoint())

    /** stage 6'' — c9: sqrt-temperature mixture over the cap survivors
      * ([[CurationQueries.temperatureMixRanked]] at [[PipeMixTarget]]) —
      * per-source targets recomputed from the CAPPED populations, the
      * composition order that makes the cap feed the mixture weights.
      * Checkpointed: feeds the pack AND the verdict flag join. */
    lazy val s5mix: DataFrame = own(
      s5cap.join(CurationQueries.temperatureMixRanked(s5cap, mixTarget).select("doc_id"),
        Seq("doc_id"), "left_semi").eagerCheckpoint())

    /** stage 7'' — c5: the SHIPPED text (p6) — mix survivors with PII
      * redacted, the rewrite a real flow runs last-before-ship. Row-local
      * (codegen'd regexp, zero shuffle); the c5 plant convention applies —
      * the synthetic corpus has no PII, so it is planted deterministically
      * from existing columns to make the redaction value-checkable (a
      * 100 TB deploy drops the plant and redacts the raw text). Output
      * (doc_id, n_pii, text): text is the redacted cut text, n_pii the
      * redaction count. Checkpointed: feeds the pack AND the verdict's
      * n_pii column. */
    lazy val s6ship: DataFrame = own {
      val C = CurationQueries
      val full = C.piiText(col("text"), col("doc_id"), col("source"))
      val red = regexp_replace(
        regexp_replace(full, C.EmailRe, "<EMAIL>"), C.PhoneRe, "<PHONE>")
      s5mix.select(col("doc_id"),
        (regexp_count(full, lit(C.EmailRe)) + regexp_count(full, lit(C.PhoneRe)))
          .cast("int").as("n_pii"),
        red.as("text")).eagerCheckpoint()
    }
  }

  /** The composed pipeline on any (doc_id, lang, source, n_chars, text)
    * frame — fixture/spec entry point. Materializes the verdict to a local
    * relation and free()s the throwaway CorpusStages before returning
    * (ADVICE r13: the lazy-DataFrame overload stranded a full set of stage
    * checkpoints per spec invocation until GC). Fixture-sized inputs only;
    * production callers hold a [[CorpusStages]] and manage its lifecycle. */
  private[queries] def pipelineOf(documents0: DataFrame): DataFrame =
    materializedFreeing(documents0)(pipelineOf)

  /** Run `f` over a throwaway CorpusStages, collect the (fixture-small)
    * result into a session-local relation, and free the stages' checkpoint
    * blocks — no storage outlives the call. */
  private def materializedFreeing(documents0: DataFrame)
                                 (f: CorpusStages => DataFrame): DataFrame =
    materializedFreeingWith(new CorpusStages(documents0))(f)

  private def materializedFreeingWith(st: CorpusStages)
                                     (f: CorpusStages => DataFrame): DataFrame = {
    try {
      val out = f(st)
      out.sparkSession.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally st.free()
  }

  private[queries] def pipelineOf(st: CorpusStages): DataFrame = {

    // stage 6 — c6: shard-pack the final kept set (distributed prefix sum)
    val packed = CurationQueries.shardPackOf(st.s5, CurationQueries.ShardBudget)
      .select(col("doc_id"), col("shard"))

    // verdict: one row per corpus doc, monotone stage bitmap + shard
    st.documents.select("doc_id")
      .join(flag(st.s1, "b1"), Seq("doc_id"), "left")
      .join(flag(st.s2, "b2"), Seq("doc_id"), "left")
      .join(flag(st.s3, "b3"), Seq("doc_id"), "left")
      .join(flag(st.s4, "b4"), Seq("doc_id"), "left")
      .join(flag(st.s5, "b5"), Seq("doc_id"), "left")
      .join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (bit("b1", BitSampled) + bit("b2", BitDecontam) + bit("b3", BitQuality) +
          bit("b4", BitNearDup) + bit("b5", BitMixture)).cast("int").as("kept_reason"),
        col("shard"))
  }

  /** p4: the pipeline WITH the substring cut in the flow (VERDICT r14
    * missing #1 — p1 trains on uncut text while d15's rewritten corpus, the
    * artifact Lee et al. say to train on, fed nothing):
    *
    *   c1 sample → c7 decontam → t12 quality → d14/d15 SUBSTRING CUT →
    *   d3 near-dup admission ON THE CUT TEXT → c3 mixture →
    *   c6 shard-pack ON THE REWRITTEN LENGTHS
    *
    * The cut sits between the quality gate and everything downstream
    * because cut text changes BOTH later decisions: near-dup pairs that
    * existed only through a shared boilerplate span dissolve (admission
    * reflects what ships), and rewritten doc lengths move c6's budget
    * boundaries (the pack formula runs on length(cut text), not the
    * original n_chars — a doc's shard can differ from p1's for that reason
    * alone, which the planted spec pins).
    *
    * Output: one row per corpus doc — (doc_id, kept_reason, n_cut, shard).
    * kept_reason reuses p1's bits (NearDup/Mixture now judged on cut
    * text); n_cut is the d15 tokens-removed count for docs that reached
    * the cut (NULL before it); shard is the pack over rewritten lengths
    * for fully-kept docs.
    *
    * 100 TB notes: all inherited shapes — the span build is d14's one
    * gram-hash shuffle over the QUALITY SURVIVORS (a sampled,
    * quality-gated fraction of the corpus, not the raw 100 TB), the cut is
    * one O(spans) groupBy + a map pass, d3/c3/c6 are the p1 stages on the
    * same-cardinality rewritten set. Nothing re-reads parquet (PlanSpec
    * pins it) and the only new wide ops are the span build's two keyed
    * shuffles. When even the survivor set's all-position postings are too
    * much shuffle, the span stage's scale dial is the d16 anchor twin
    * ([[DedupQueries.substringDedupSampledOf]]) — ~stride× less posting
    * volume for the closed-form recall trade; the cut consumes its spans
    * unchanged (same schema, exact maximal intervals). */
  private[queries] def pipelineCutOf(st: CorpusStages): DataFrame =
    cutVerdictOf(st, st.cutDocs, st.s4c, st.s5c)

  /** p4's ANCHOR-DIAL variant (VERDICT r15 missing #1): the same composed
    * flow with the span stage on [[CorpusStages.cutDocsAnchored]] — the
    * d16 mod-sampled anchor twin over the SHARED staged gram scan, for
    * corpora whose quality-survivor set is still too much shuffle for
    * all-position postings. Same output contract as p4; spans are a
    * recall-dialed subset of the exact build's (exact maximal intervals
    * still), so n_cut, admission, and shard boundaries can differ exactly
    * where the dial says they may — spec-pinned EQUAL to exact p4 on the
    * planted fixture and sf0.001 (every planted span is ≫ the stride's
    * miss window), oracle-gated by replaying the anchor rule itself. */
  private[queries] def pipelineCutAnchoredOf(st: CorpusStages): DataFrame =
    cutVerdictOf(st, st.cutDocsAnchored, st.s4ca, st.s5ca)

  private def cutVerdictOf(st: CorpusStages, cutDocs: DataFrame,
                           s4c: DataFrame, s5c: DataFrame): DataFrame = {
    val packed = CurationQueries.shardPackOf(
        s5c.select(col("doc_id"), length(col("text")).as("n_chars")),
        CurationQueries.ShardBudget)
      .select(col("doc_id"), col("shard"))
    st.documents.select("doc_id")
      .join(flag(st.s1, "b1"), Seq("doc_id"), "left")
      .join(flag(st.s2, "b2"), Seq("doc_id"), "left")
      .join(flag(st.s3, "b3"), Seq("doc_id"), "left")
      .join(flag(s4c, "b4"), Seq("doc_id"), "left")
      .join(flag(s5c, "b5"), Seq("doc_id"), "left")
      .join(cutDocs.select(col("doc_id"), col("n_cut")), Seq("doc_id"), "left")
      .join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (bit("b1", BitSampled) + bit("b2", BitDecontam) + bit("b3", BitQuality) +
          bit("b4", BitNearDup) + bit("b5", BitMixture)).cast("int").as("kept_reason"),
        col("n_cut"), col("shard"))
  }

  /** p5: the CURATED pipeline — p4's flow with the flat c3 mixture replaced
    * by the two selection stages a real pretraining recipe runs between
    * admission and packing:
    *
    *   c1 sample → c7 decontam → t12 quality → d14/d15 cut →
    *   d3 near-dup admission on cut text → c10 DOMAIN CAP →
    *   c9 TEMPERATURE MIX → c6 shard-pack on rewritten lengths
    *
    * The cap runs BEFORE the mix so the mixture's per-source targets are
    * computed from the capped populations (capping after mixing would
    * silently under-fill the sources the cap bites); both run AFTER
    * admission so they select among text that actually ships. Each stage
    * composed here is the SAME formula family its standalone gate proves
    * (c10's domainCapRanked, c9's temperatureMixRanked) at the pipeline
    * dials ([[PipeDomainCap]]/[[PipeMixTarget]] — see their scaladoc for
    * why the corpus-sized standalone constants cannot bind over a survivor
    * set).
    *
    * Output: one row per corpus doc — (doc_id, kept_reason, n_cut, shard);
    * kept_reason bits 1/2/4/8 as p4, 16 = survived the cap, 32 = selected
    * by the mix; shard packs the MIX SURVIVORS on cut-text lengths.
    *
    * 100 TB notes: both new stages are bounded top-k AGGREGATES over the
    * survivor set — map-side combinable, O(domains x cap) and O(sources x
    * target) shuffle rows, no window sorts; the weight normalizer is one
    * tiny broadcast. Everything upstream is p4's audited shapes; nothing
    * re-reads parquet (PlanSpec pins it). */
  private[queries] def pipelineCuratedOf(st: CorpusStages): DataFrame = {
    val packed = CurationQueries.shardPackOf(
        st.s5mix.select(col("doc_id"), length(col("text")).as("n_chars")),
        CurationQueries.ShardBudget)
      .select(col("doc_id"), col("shard"))
    st.documents.select("doc_id")
      .join(flag(st.s1, "b1"), Seq("doc_id"), "left")
      .join(flag(st.s2, "b2"), Seq("doc_id"), "left")
      .join(flag(st.s3, "b3"), Seq("doc_id"), "left")
      .join(flag(st.s4c, "b4"), Seq("doc_id"), "left")
      .join(flag(st.s5cap, "b5"), Seq("doc_id"), "left")
      .join(flag(st.s5mix, "b6"), Seq("doc_id"), "left")
      .join(st.cutDocs.select(col("doc_id"), col("n_cut")), Seq("doc_id"), "left")
      .join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (bit("b1", BitSampled) + bit("b2", BitDecontam) + bit("b3", BitQuality) +
          bit("b4", BitNearDup) + bit("b5", BitDomainCap) + bit("b6", BitTempMix))
          .cast("int").as("kept_reason"),
        col("n_cut"), col("shard"))
  }

  /** p6: the SHIPPED pipeline — p5's curated flow with c5's PII redaction
    * between the mix and the pack:
    *
    *   ... → c10 domain cap → c9 temperature mix → c5 PII REDACTION →
    *   c6 shard-pack ON THE REDACTED LENGTHS
    *
    * Redaction is the second REWRITING stage the family composes (the d15
    * cut is the first), and it sits after selection because the shipped
    * artifact is the redacted one: `<EMAIL>`/`<PHONE>` substitutions change
    * document lengths, so the pack boundaries differ from packing the
    * unredacted text — a training job reading p6's shards and a compliance
    * audit reading n_pii see one consistent artifact. Redaction drops no
    * documents, so kept_reason is exactly p5's bitmap.
    *
    * Output: one row per corpus doc — (doc_id, kept_reason, n_cut, n_pii,
    * shard); n_pii counts the redacted matches for SHIPPED docs (NULL for
    * docs that never reached the ship stage); shard packs redacted lengths.
    *
    * 100 TB notes: the added stage is a row-local codegen'd regexp pass
    * over the mix survivors — zero shuffle beyond p5's audited shapes. */
  private[queries] def pipelineShippedOf(st: CorpusStages): DataFrame = {
    val packed = CurationQueries.shardPackOf(
        st.s6ship.select(col("doc_id"), length(col("text")).as("n_chars")),
        CurationQueries.ShardBudget)
      .select(col("doc_id"), col("shard"))
    st.documents.select("doc_id")
      .join(flag(st.s1, "b1"), Seq("doc_id"), "left")
      .join(flag(st.s2, "b2"), Seq("doc_id"), "left")
      .join(flag(st.s3, "b3"), Seq("doc_id"), "left")
      .join(flag(st.s4c, "b4"), Seq("doc_id"), "left")
      .join(flag(st.s5cap, "b5"), Seq("doc_id"), "left")
      .join(flag(st.s5mix, "b6"), Seq("doc_id"), "left")
      .join(st.cutDocs.select(col("doc_id"), col("n_cut")), Seq("doc_id"), "left")
      .join(st.s6ship.select(col("doc_id"), col("n_pii")), Seq("doc_id"), "left")
      .join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (bit("b1", BitSampled) + bit("b2", BitDecontam) + bit("b3", BitQuality) +
          bit("b4", BitNearDup) + bit("b5", BitDomainCap) + bit("b6", BitTempMix))
          .cast("int").as("kept_reason"),
        col("n_cut"), col("n_pii"), col("shard"))
  }

  /** Fixture/spec entry point for p6 (collect + free, the [[pipelineOf]]
    * contract). */
  private[queries] def pipelineShippedOf(documents0: DataFrame): DataFrame =
    materializedFreeing(documents0)(pipelineShippedOf)

  /** Fixture/spec entry point for p5 (collect + free, the [[pipelineOf]]
    * contract). */
  private[queries] def pipelineCuratedOf(documents0: DataFrame): DataFrame =
    materializedFreeing(documents0)(pipelineCuratedOf)

  /** [[pipelineCuratedOf]] at explicit dials — the spec handle mirroring
    * the anchored variant's stride overload: cap/target large enough never
    * to bind must reproduce the cut flow's survivor set exactly (modulo the
    * c3 stage p5 replaces), and tighter dials move membership only at the
    * cap/mix stages. */
  private[queries] def pipelineCuratedOf(documents0: DataFrame,
                                         domainCap: Int, mixTarget: Int): DataFrame =
    materializedFreeingWith(new CorpusStages(documents0,
      DedupQueries.AnchorStride, domainCap, mixTarget))(pipelineCuratedOf)

  /** Fixture/spec entry point (collect + free, the [[pipelineOf]] contract). */
  private[queries] def pipelineCutOf(documents0: DataFrame): DataFrame =
    materializedFreeing(documents0)(pipelineCutOf)

  /** Fixture/spec entry point for the anchor-dial variant. */
  private[queries] def pipelineCutAnchoredOf(documents0: DataFrame): DataFrame =
    materializedFreeing(documents0)(pipelineCutAnchoredOf)

  /** [[pipelineCutAnchoredOf]] at an explicit stride — the dial's spec
    * handle: stride 1 makes every gram an anchor, so the variant must be
    * IDENTICAL to exact-span p4 on any input (the identity the stride-1
    * spec pins); larger strides trade recall per [[DedupQueries.AnchorStride]]. */
  private[queries] def pipelineCutAnchoredOf(documents0: DataFrame, stride: Int): DataFrame =
    materializedFreeingWith(new CorpusStages(documents0, stride))(pipelineCutAnchoredOf)

  private def flag(ids: DataFrame, name: String) =
    ids.select(col("doc_id")).withColumn(name, lit(true))
  private def bit(name: String, v: Int): Column = when(col(name), v).otherwise(0)

  /** p2: DAY-2 of the pipeline — incremental admission of a new arrival
    * batch against the corpus p1 built. The batch (a deterministic
    * not-previously-sampled 10% slice standing in for the day's arrivals)
    * flows through:
    *
    *   c7 decontam (same day-1 benchmark) → FROZEN t12 quality gate →
    *   d12 near-dup admission (vs the KEPT corpus + in-batch clusters) →
    *   c3 mixture
    *
    * The two deliberate day-2 semantics, both of which only a composed gate
    * can cover:
    *  - FROZEN model: batch docs are scored against day-1's bigram LM
    *    (trained on the post-decontam corpus s2) and cut at day-1's
    *    LEAVE-ONE-OUT per-lang p30 ([[CorpusStages.thFrozen]]) — production
    *    does not retrain per batch, and the in-corpus threshold is the
    *    wrong bar for out-of-model scorees (self-count bias; see thFrozen's
    *    scaladoc for the measured gap). A batch bigram unseen in the corpus
    *    scores 0 (harsh-OOV: unfamiliar text reads as low quality); a batch
    *    doc whose lang has no day-1 threshold fails the gate (no model, no
    *    admission — retrain before onboarding a new language).
    *  - Dedup is against the KEPT corpus (p1's s5), not everything day 1
    *    SAW: a copy of a day-1 doc that mixture dropped is admissible — its
    *    text is not in the training corpus. Cluster-transitive corpus
    *    contamination and min-id in-batch representatives are exactly
    *    [[DedupQueries.incrementalDedup]]'s contract.
    *
    * Output: one row per batch doc — (doc_id, admit_reason, admitted) —
    * bitmap monotone as in p1; `admitted` (= admit_reason 15) is the set
    * that joins the corpus (and whose band keys production appends to the
    * persisted index via [[DedupQueries.appendBandIndex]]).
    *
    * 100 TB notes: the corpus participates only through day-1 artifacts
    * that are O(corpus) ONCE, not per batch — the bench bloom, the model
    * tables (semi-join-pruned to the batch's grams before the prob join:
    * O(batch-vocab) rows shuffle, not O(corpus-vocab)), broadcast
    * thresholds, and the s5 band index (in production the PERSISTED index;
    * rebuilt in-gate here so the oracle can replay it). Everything else is
    * O(batch): the gate def's whole day-2 side fits one executor's worth of
    * work per 10 GB of arrivals. */
  private[queries] def incrementalAdmissionOf(documents0: DataFrame): DataFrame =
    materializedFreeing(documents0)(st => incrementalAdmissionOf(st))

  private[queries] def incrementalAdmissionOf(st: CorpusStages): DataFrame = {
    val day2 = CurationQueries.saltedHash("day2", col("doc_id")) % 100 < 10
    val batch0 = st.documents
      .where(!CurationQueries.samplePred && day2)
      .eagerCheckpoint() // feeds every batch stage + the verdict spine

    // stage 1 — decontam vs the DAY-1 benchmark (bench members themselves
    // are never training data, same as p1's stage 2)
    val bhit = st.g8(batch0.where(col("doc_id") % 20 =!= 0))
      .where(graft.functions.BloomFunctions.mightContain(st.bloom, col("g")))
      .join(st.bench, "g").select("doc_id").distinct()
    val b1 = batch0.where(col("doc_id") % 20 =!= 0)
      .join(bhit, Seq("doc_id"), "left_anti")
      .eagerCheckpoint() // feeds scoring + lang join + verdict

    // stage 2 — frozen quality gate: day-1 model, day-1 thresholds
    val binst = TextQueries.bigramInstancesOf(b1).eagerCheckpoint() // feeds 2 semi-joins + the prob join
    val corpusInst = st.corpusInst // shared day-1 extraction, checkpointed
    val cnt = corpusInst.join(binst.select("g").distinct(), Seq("g"), "left_semi")
      .groupBy("g").agg(count(lit(1)).as("c"))
    val pre = corpusInst.join(binst.select("pg").distinct(), Seq("pg"), "left_semi")
      .groupBy("pg").agg(count(lit(1)).as("c1"))
    // unseen bigram → no cnt row → coalesce 0 (a bigram seen at all has a
    // seen prefix — same string prefix, same hash — so c1 is never null
    // when c isn't; the coalesce covers both)
    val bp = binst.join(cnt, Seq("g"), "left").join(pre, Seq("pg"), "left")
      .select(col("doc_id"), col("g"),
        coalesce(col("c").cast("double") / col("c1").cast("double"), lit(0.0)).as("p"))
    val bscore = bp.groupBy("doc_id").agg(
      (graft.functions.VectorFunctions.sortedTermSum(
        collect_list(struct(col("g").as("g"), col("p").as("t"))))
        / count(lit(1))).as("avg_p"))
    val passQ = bscore.join(b1.select("doc_id", "lang"), "doc_id")
      .join(broadcast(st.thFrozen), "lang")
      .where(col("avg_p") >= col("p30")).select("doc_id")
    val b2 = b1.join(passQ, Seq("doc_id")).eagerCheckpoint() // feeds dedup + verdict

    // stage 3 — near-dup admission vs the kept corpus + in-batch clusters,
    // self-contained: the stage shingles the day-2 batch itself (one small
    // checkpoint) and the O(candidates) corpus slice.
    // r19 (VERDICT r18 #3, measured): the r18 staged-slice path — handing
    // doc_id semi-join slices of the session shingle/band tables to the
    // dedup stage — LOST to this self-contained shape in both the driver's
    // run (6.17 s vs r17's 5.38) and a same-window 3-leg conf A/B here
    // (staged-lazy 8.48 s, staged-with-checkpointed-slices 8.31 s,
    // self-contained 3.01 s as the pipeline_day2_admission build item).
    // Mechanism: the staged tables hold EVERY corpus doc's shingle array /
    // 32 band keys, and each consumer's semi-join deserializes all of them
    // (3 consumers per side), while this shape re-shingles only the docs
    // it needs. incrementalDedup's staged params remain for d12/d13, whose
    // .where() parity slices of the same tables are driver-confirmed wins
    // (1.89x on d12).
    val b3 = DedupQueries.incrementalDedup(st.s5, b2)

    // stage 4 — mixture keep-rates by source
    val b4 = b3.where(CurationQueries.mixPred)

    batch0.select("doc_id")
      .join(flag(b1, "k1"), Seq("doc_id"), "left")
      .join(flag(b2, "k2"), Seq("doc_id"), "left")
      .join(flag(b3, "k3"), Seq("doc_id"), "left")
      .join(flag(b4, "k4"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (bit("k1", Bit2Decontam) + bit("k2", Bit2Quality) +
          bit("k3", Bit2Admitted) + bit("k4", Bit2Mixture)).cast("int").as("admit_reason"))
      .withColumn("admitted", col("admit_reason") === AdmittedAll)
  }

  /** p3: DAY-3 of the pipeline — CORPUS MAINTENANCE, the loop-closing step
    * the per-day gates leave implicit: yesterday's admitted batch JOINS the
    * training corpus, and the enlarged corpus is re-packed into shards as
    * one flow (p2's scaladoc promises "shards are repacked by the periodic
    * compaction, not per batch" — this IS that compaction, gated).
    *
    *   merged = p1's kept set (s5) ∪ p2's admitted arrivals
    *   shards = c6's distributed prefix-sum pack over merged
    *
    * Output: one row per merged-corpus doc — (doc_id, origin, shard) —
    * origin 'day1'/'day2' records provenance (disjoint by construction: the
    * batch slice is drawn from NOT-day-1-sampled ids), shard is the fresh
    * pack assignment. The repack deliberately reassigns day-1 docs too:
    * budget boundaries shift when content is added, which is why it runs as
    * periodic compaction rather than per batch.
    *
    * The third production artifact of this step — appending the admitted
    * docs' band keys to the persisted LSH index via
    * [[DedupQueries.appendBandIndex]] so day-4 ingest dedups against them —
    * is a filesystem side effect, exercised end-to-end (write day-1 index,
    * append day-2 admissions, reject a day-3 copy through the READ-BACK
    * index) in CurationPipelineSpec rather than in this pure-DataFrame gate.
    *
    * 100 TB notes: O(corpus) in the union and the pack — both inherited
    * shapes (s5 is a checkpoint read; the pack is c6's two-level prefix sum
    * whose only driver-side state is one offset row per partition). The
    * admitted set arrives as a doc_id semi-join against the checkpointed
    * corpus projection — no batch text is re-derived. */
  private[queries] def corpusMaintenanceOf(st: CorpusStages, verdict: DataFrame): DataFrame = {
    val admitted = verdict.where(col("admitted")).select("doc_id")
    val day2 = CurationQueries.saltedHash("day2", col("doc_id")) % 100 < 10
    val admittedDocs = st.documents
      .where(!CurationQueries.samplePred && day2)
      .join(admitted, Seq("doc_id"), "left_semi")
    val merged = st.s5.select("doc_id", "n_chars").withColumn("origin", lit("day1"))
      .unionByName(
        admittedDocs.select("doc_id", "n_chars").withColumn("origin", lit("day2")))
    val packed = CurationQueries.shardPackOf(
      merged.select("doc_id", "n_chars"), CurationQueries.ShardBudget)
    merged.select("doc_id", "origin")
      .join(packed.select("doc_id", "shard"), Seq("doc_id"))
      .select("doc_id", "origin", "shard")
  }

  /** Fixture/spec entry point (same lifecycle contract as the other
    * parametric overloads: collect + free, nothing outlives the call). */
  private[queries] def corpusMaintenanceOf(documents0: DataFrame): DataFrame =
    materializedFreeing(documents0)(st =>
      corpusMaintenanceOf(st, incrementalAdmissionOf(st)))

  /** p7: DAY-3 of the CURATED pipeline (VERDICT r17 missing #2 — p3 closes
    * the loop for p1's FLAT mixture flow only, and it packs pre-redaction
    * n_chars, so the maintained artifact diverged from the p6 SHIPPED one):
    * the nightly re-selection + repack that carries an arrival batch
    * through the curated tail.
    *
    *   pop    = p5's cut near-dup survivors (s4c) ∪ p2's admitted arrivals
    *   cap'   = c10 domain cap RECOMPUTED over pop    (same dial as p5)
    *   mix'   = c9 temperature mix over cap' survivors (same dial)
    *   ship'  = c5 PII redaction of the mix survivors
    *   shards = c6 pack over the REDACTED lengths
    *
    * The re-selection semantics this key makes explicit and NIGHTLY-ONLY:
    * cap and mix are GLOBAL selections over populations that shift with
    * arrivals — an admitted arrival ranking inside a full domain's top-cap
    * EVICTS the day-1 doc it displaces (retroactively: that doc was in
    * yesterday's p5 output), and per-source sqrt-weights move with the new
    * counts. A per-batch online re-cap would flap day-1 membership on
    * every trigger; production re-selects once per compaction — this gate.
    * The online path keeps the bounded per-domain admission counters
    * ([[graft.streaming.Streams]] domainCapStream) as day-2's optimistic
    * filter; p7 is the settlement.
    *
    * Day-2 arrivals enter with their RAW text (the admission batch has no
    * cut stage — arrival spans vs the corpus settle in the nightly
    * substring run, the d16-family split); day-1 docs carry their CUT
    * text, and BOTH are redacted at ship. The pack runs on the redacted
    * lengths, so the maintained shards and p6's shipped shards are the
    * same artifact family — what a training job reads is what compliance
    * audited.
    *
    * Output: one row per pop doc — (doc_id, origin, sel_reason, n_pii,
    * shard): origin 'day1'/'day2' (disjoint by construction), sel_reason
    * bit 16 = survived the re-cap, bit 32 = re-mix selected; n_pii/shard
    * for shipped docs (NULL otherwise).
    *
    * 100 TB notes: all inherited shapes — the union reads two checkpointed
    * frames; cap/mix are the bounded top-k AGGREGATES (O(domains × cap) /
    * O(sources × target) shuffle rows, map-side combinable, no window
    * sorts); redaction is row-local codegen'd regexp; the pack is c6's
    * two-level prefix sum. Each stage frame is checkpointed into the
    * stages' lifecycle (the s5cap/s5mix/s6ship discipline) so the verdict
    * spine's four joins read materialized blocks, and the gated key is
    * memoized per session (the p2 convention: one nightly run, many
    * readers). */
  private[queries] def curatedMaintenanceOf(st: CorpusStages, verdict: DataFrame): DataFrame = {
    val C = CurationQueries
    val admitted = verdict.where(col("admitted")).select("doc_id")
    val day2 = C.saltedHash("day2", col("doc_id")) % 100 < 10
    val arrivals = st.documents
      .where(!C.samplePred && day2)
      .join(admitted, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        lit("day2").as("origin"))
    // each stage frame is checkpointed into st's lifecycle (the s5cap/
    // s5mix/s6ship discipline): pop feeds the cap aggregate, its semi-join
    // AND the verdict spine; capped feeds the mix twice + a flag join —
    // unmaterialized, every consumer re-runs the whole upstream chain
    val pop = st.ownEager(st.s4c
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        lit("day1").as("origin"))
      .unionByName(arrivals))
    val capped = st.ownEager(
      pop.join(C.domainCapRanked(pop, st.domainCap).select("doc_id"),
        Seq("doc_id"), "left_semi"))
    val mixed = st.ownEager(capped.join(
      C.temperatureMixRanked(capped, st.mixTarget).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    val full = C.piiText(col("text"), col("doc_id"), col("source"))
    val red = regexp_replace(
      regexp_replace(full, C.EmailRe, "<EMAIL>"), C.PhoneRe, "<PHONE>")
    val shipped = st.ownEager(mixed.select(col("doc_id"),
      (regexp_count(full, lit(C.EmailRe)) + regexp_count(full, lit(C.PhoneRe)))
        .cast("int").as("n_pii"),
      red.as("text")))
    val packed = C.shardPackOf(
        shipped.select(col("doc_id"), length(col("text")).as("n_chars")),
        C.ShardBudget)
      .select(col("doc_id"), col("shard"))
    pop.select("doc_id", "origin")
      .join(flag(capped, "b5"), Seq("doc_id"), "left")
      .join(flag(mixed, "b6"), Seq("doc_id"), "left")
      .join(shipped.select(col("doc_id"), col("n_pii")), Seq("doc_id"), "left")
      .join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("origin"),
        (bit("b5", BitDomainCap) + bit("b6", BitTempMix)).cast("int").as("sel_reason"),
        col("n_pii"), col("shard"))
  }

  /** Fixture/spec entry point (collect + free, the family contract). */
  private[queries] def curatedMaintenanceOf(documents0: DataFrame): DataFrame =
    materializedFreeing(documents0)(st =>
      curatedMaintenanceOf(st, incrementalAdmissionOf(st)))

  /** [[curatedMaintenanceOf]] at explicit dials — the spec handle (the
    * pipelineCuratedOf convention). */
  private[queries] def curatedMaintenanceOf(documents0: DataFrame,
                                            domainCap: Int, mixTarget: Int): DataFrame =
    materializedFreeingWith(new CorpusStages(documents0,
      DedupQueries.AnchorStride, domainCap, mixTarget))(st =>
      curatedMaintenanceOf(st, incrementalAdmissionOf(st)))

  /** d3's banding-rejection CTE family over `src`'s (doc_id, text) rows,
    * CTE names prefixed `p` — `${p}sgl` .. `${p}rej` (rej = the keep-rule
    * losers, doc_b of each verified pair). ONE definition for the corpus
    * cascade (p = "", the names batchCascadeSql also references) and the
    * p4 cut cascade (p = "c"); the spans/cut idiom of
    * [[DedupQueries.spanCtesFor]]. */
  private def bandingRejCtesFor(src: String, p: String): String = {
    val toks = tokensSql("text")
    import DedupQueries.{JaccardT, ShingleK}
    s"""${p}sgl AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= $ShingleK THEN list_distinct(list_transform(
       |      [array_to_string(t[i+1:i+$ShingleK], ' ') for i in range(0, len(t) - ${ShingleK - 1})],
       |      x -> ${polyHashSql("x")}))
       |    ELSE [] END AS sh
       |  FROM (SELECT doc_id, $toks AS t FROM $src)),
       |${p}shf AS MATERIALIZED (SELECT doc_id, sh FROM ${p}sgl WHERE len(sh) > 0),
       |${p}sig AS MATERIALIZED (SELECT doc_id, sh, ${minhashSignatureSql("sh")} AS sig FROM ${p}shf),
       |${p}bands AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(band AS VARCHAR) || ':' ||
       |           array_to_string(sig[band*$RowsPerBand+1 : band*$RowsPerBand+$RowsPerBand], '-') AS bkey
       |  FROM ${p}sig, range($NumBands) r(band)),
       |${p}cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ${p}bands a JOIN ${p}bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |${p}rej AS MATERIALIZED (SELECT DISTINCT doc_b AS doc_id FROM (
       |    SELECT doc_a, doc_b,
       |           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
       |    FROM ${p}cand
       |    JOIN ${p}shf sa ON sa.doc_id = ${p}cand.doc_a
       |    JOIN ${p}shf sb ON sb.doc_id = ${p}cand.doc_b)
       |  WHERE jaccard >= $JaccardT)""".stripMargin
  }

  /** The day-1 corpus cascade (p1's s1 → s5) as a reusable CTE chain —
    * every stage is the SAME formula family its per-stage oracle proves
    * (c1/c7/t9+t12/d3/c3), re-anchored to the previous stage's survivor
    * set. Shared verbatim by the p1 and p2 oracles so both replay ONE
    * corpus-build definition. */
  private lazy val corpusCascadeSql: String = {
    val toks = tokensSql("text")
    val gram8 = CurationQueries.gram8Sql
    s"""s1 AS MATERIALIZED (
       |  SELECT doc_id, lang, source, n_chars, text FROM documents
       |  WHERE ${CurationQueries.saltedHashSql("smpl", "doc_id")} % 100 < 10),
       |bw AS MATERIALIZED (SELECT doc_id, $toks AS ws FROM documents WHERE doc_id % 20 = 0),
       |bench AS MATERIALIZED (SELECT DISTINCT g FROM (
       |  SELECT unnest([$gram8 for i in range(0, len(ws) - 7)]) AS g FROM bw)),
       |cw AS MATERIALIZED (SELECT doc_id, $toks AS ws FROM s1 WHERE doc_id % 20 <> 0),
       |hit AS MATERIALIZED (SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest([$gram8 for i in range(0, len(ws) - 7)]) AS g FROM cw) cg
       |  JOIN bench USING (g)),
       |s2 AS MATERIALIZED (SELECT * FROM s1 WHERE doc_id % 20 <> 0
       |       AND doc_id NOT IN (SELECT doc_id FROM hit)),
       |tt AS MATERIALIZED (SELECT doc_id, $toks AS ws FROM s2),
       |inst AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest([${polyHashSql("ws[i+1] || ' ' || ws[i+2]")}
       |            for i in range(0, len(ws) - 1)]) AS g,
       |    unnest([${polyHashSql("ws[i+1]")}
       |            for i in range(0, len(ws) - 1)]) AS pg
       |  FROM tt WHERE len(ws) >= 2),
       |cnt AS MATERIALIZED (SELECT g, COUNT(*)::BIGINT AS c FROM inst GROUP BY g),
       |pre AS MATERIALIZED (SELECT pg, COUNT(*)::BIGINT AS c1 FROM inst GROUP BY pg),
       |p AS MATERIALIZED (SELECT doc_id, inst.g AS g,
       |        CAST(c AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
       |      FROM inst JOIN cnt ON inst.g = cnt.g
       |                JOIN pre ON inst.pg = pre.pg),
       |score AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY g, p)),
       |      (a, x) -> a + x) / COUNT(*) AS avg_p
       |  FROM p GROUP BY doc_id),
       |sl AS MATERIALIZED (SELECT s.doc_id, d.lang, s.avg_p FROM score s JOIN s2 d USING (doc_id)),
       |th AS MATERIALIZED (SELECT lang, quantile_cont(avg_p, 0.3) AS p30 FROM sl GROUP BY lang),
       |passq AS MATERIALIZED (SELECT sl.doc_id FROM sl JOIN th USING (lang) WHERE sl.avg_p >= th.p30),
       |s3 AS MATERIALIZED (SELECT s2.* FROM s2 JOIN passq USING (doc_id)),
       |${bandingRejCtesFor("s3", "")},
       |s4 AS MATERIALIZED (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM rej)),
       |s5 AS MATERIALIZED (SELECT * FROM s4
       |  WHERE ${CurationQueries.saltedHashSql("mix", "doc_id")} % 100 <
       |    [10, 25, 50, 100][CAST(CAST(substring(source, 4) AS INT) % 4 + 1 AS INT)])""".stripMargin
  }

  /** The whole chain as one DuckDB WITH cascade; p2 appends the batch-side
    * cascade (decontam, frozen-model scoring, d12-family dedup replay with
    * recursive in-batch reachability, mixture) to the same corpus CTEs. */
  val oracles: Map[String, String] = {
    Map(
      "p1_pipeline" ->
        s"""WITH $corpusCascadeSql,
           |h AS MATERIALIZED (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           |        ${CurationQueries.saltedHashSql("shard", "doc_id")} AS k FROM s5),
           |packed AS MATERIALIZED (SELECT doc_id,
           |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY k, doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |    // ${CurationQueries.ShardBudget} AS shard FROM h)
           |SELECT d.doc_id,
           |  CAST(CASE WHEN b1.doc_id IS NOT NULL THEN $BitSampled ELSE 0 END
           |     + CASE WHEN b2.doc_id IS NOT NULL THEN $BitDecontam ELSE 0 END
           |     + CASE WHEN b3.doc_id IS NOT NULL THEN $BitQuality ELSE 0 END
           |     + CASE WHEN b4.doc_id IS NOT NULL THEN $BitNearDup ELSE 0 END
           |     + CASE WHEN b5.doc_id IS NOT NULL THEN $BitMixture ELSE 0 END AS INT) AS kept_reason,
           |  packed.shard AS shard
           |FROM documents d
           |LEFT JOIN (SELECT doc_id FROM s1) b1 ON d.doc_id = b1.doc_id
           |LEFT JOIN (SELECT doc_id FROM s2) b2 ON d.doc_id = b2.doc_id
           |LEFT JOIN (SELECT doc_id FROM s3) b3 ON d.doc_id = b3.doc_id
           |LEFT JOIN (SELECT doc_id FROM s4) b4 ON d.doc_id = b4.doc_id
           |LEFT JOIN (SELECT doc_id FROM s5) b5 ON d.doc_id = b5.doc_id
           |LEFT JOIN packed ON d.doc_id = packed.doc_id""".stripMargin,

      // p2: the corpus cascade defines the day-1 artifacts (bench, model
      // cnt/pre, thresholds th, kept set s5 and its bands); the batch side
      // replays decontam, frozen scoring (LEFT JOIN model, COALESCE 0 —
      // the harsh-OOV rule), the d12 dedup cascade (band collisions vs
      // s5's bands, exact Jaccard, recursive in-batch min-reachability,
      // cluster-transitive contamination), and the mixture cut.
      "p2_incremental_pipeline" ->
        s"""WITH RECURSIVE $corpusCascadeSql,
           |$batchCascadeSql
           |SELECT doc_id, admit_reason, admit_reason = $AdmittedAll AS admitted FROM (
           |  SELECT d.doc_id,
           |    CAST(CASE WHEN k1.doc_id IS NOT NULL THEN $Bit2Decontam ELSE 0 END
           |       + CASE WHEN k2.doc_id IS NOT NULL THEN $Bit2Quality ELSE 0 END
           |       + CASE WHEN k3.doc_id IS NOT NULL THEN $Bit2Admitted ELSE 0 END
           |       + CASE WHEN k4.doc_id IS NOT NULL THEN $Bit2Mixture ELSE 0 END AS INT) AS admit_reason
           |  FROM b0 d
           |  LEFT JOIN (SELECT doc_id FROM b1) k1 ON d.doc_id = k1.doc_id
           |  LEFT JOIN (SELECT doc_id FROM b2) k2 ON d.doc_id = k2.doc_id
           |  LEFT JOIN (SELECT doc_id FROM b3) k3 ON d.doc_id = k3.doc_id
           |  LEFT JOIN (SELECT doc_id FROM b4) k4 ON d.doc_id = k4.doc_id)""".stripMargin,

      // p3: the corpus cascade's kept set s5 plus the batch cascade's final
      // stage b4 (the admitted arrivals — the sets are disjoint: the batch
      // slice is drawn from NOT-day-1-sampled ids), merged, then the c6
      // pack formula replayed over the union — identical to p1's packed
      // CTE, re-anchored to the merged corpus.
      // p4: the corpus cascade up to the quality survivors s3, then the
      // shared d14 span CTEs re-anchored to s3 (prefix x), the shared d15
      // cut CTEs, d3's banding formula family over the CUT text, the
      // mixture cut, and p1's pack formula over length(cut text) — the
      // rewritten lengths, not the n_chars column.
      "p4_pipeline_cut" ->
        s"""WITH $corpusCascadeSql,
           |${DedupQueries.spanCtesFor("s3", "x")},
           |${DedupQueries.cutCtesFor("s3", "x")},
           |$cutCascadeSql
           |SELECT d.doc_id,
           |  CAST(CASE WHEN b1.doc_id IS NOT NULL THEN $BitSampled ELSE 0 END
           |     + CASE WHEN b2.doc_id IS NOT NULL THEN $BitDecontam ELSE 0 END
           |     + CASE WHEN b3.doc_id IS NOT NULL THEN $BitQuality ELSE 0 END
           |     + CASE WHEN b4.doc_id IS NOT NULL THEN $BitNearDup ELSE 0 END
           |     + CASE WHEN b5.doc_id IS NOT NULL THEN $BitMixture ELSE 0 END AS INT) AS kept_reason,
           |  cd.n_cut AS n_cut,
           |  cpacked.shard AS shard
           |FROM documents d
           |LEFT JOIN (SELECT doc_id FROM s1) b1 ON d.doc_id = b1.doc_id
           |LEFT JOIN (SELECT doc_id FROM s2) b2 ON d.doc_id = b2.doc_id
           |LEFT JOIN (SELECT doc_id FROM s3) b3 ON d.doc_id = b3.doc_id
           |LEFT JOIN (SELECT doc_id FROM cs4) b4 ON d.doc_id = b4.doc_id
           |LEFT JOIN (SELECT doc_id FROM cs5) b5 ON d.doc_id = b5.doc_id
           |LEFT JOIN cd ON d.doc_id = cd.doc_id
           |LEFT JOIN cpacked ON d.doc_id = cpacked.doc_id""".stripMargin,

      // p4-anchored: identical cascade with the span CTEs swapped for the
      // d16 anchor chain (same `xsp` output name, so the cut CTEs and the
      // downstream cut cascade compose unchanged) — the oracle replays the
      // anchor filter, df cap, island collapse, and LCP extension itself,
      // so the gate stays valid at any recall the dial produces.
      "p4_pipeline_cut_anchored" ->
        s"""WITH $corpusCascadeSql,
           |${DedupQueries.anchorSpanCtesFor("s3", "x")},
           |${DedupQueries.cutCtesFor("s3", "x")},
           |$cutCascadeSql
           |SELECT d.doc_id,
           |  CAST(CASE WHEN b1.doc_id IS NOT NULL THEN $BitSampled ELSE 0 END
           |     + CASE WHEN b2.doc_id IS NOT NULL THEN $BitDecontam ELSE 0 END
           |     + CASE WHEN b3.doc_id IS NOT NULL THEN $BitQuality ELSE 0 END
           |     + CASE WHEN b4.doc_id IS NOT NULL THEN $BitNearDup ELSE 0 END
           |     + CASE WHEN b5.doc_id IS NOT NULL THEN $BitMixture ELSE 0 END AS INT) AS kept_reason,
           |  cd.n_cut AS n_cut,
           |  cpacked.shard AS shard
           |FROM documents d
           |LEFT JOIN (SELECT doc_id FROM s1) b1 ON d.doc_id = b1.doc_id
           |LEFT JOIN (SELECT doc_id FROM s2) b2 ON d.doc_id = b2.doc_id
           |LEFT JOIN (SELECT doc_id FROM s3) b3 ON d.doc_id = b3.doc_id
           |LEFT JOIN (SELECT doc_id FROM cs4) b4 ON d.doc_id = b4.doc_id
           |LEFT JOIN (SELECT doc_id FROM cs5) b5 ON d.doc_id = b5.doc_id
           |LEFT JOIN cd ON d.doc_id = cd.doc_id
           |LEFT JOIN cpacked ON d.doc_id = cpacked.doc_id""".stripMargin,

      // p5: the corpus cascade to s3, the span/cut CTEs, the cut-admission
      // prefix (cd/cs4 — shared verbatim with p4), then the curated tail:
      // the STANDALONE c10/c9 oracle CTE families re-anchored to the
      // survivor chain at the pipeline dials, and the pack over the mix
      // survivors' rewritten lengths.
      "p5_pipeline_curated" ->
        s"""WITH $corpusCascadeSql,
           |${DedupQueries.spanCtesFor("s3", "x")},
           |${DedupQueries.cutCtesFor("s3", "x")},
           |$cutAdmitSql,
           |$curatedTailSql
           |SELECT d.doc_id,
           |  CAST(CASE WHEN b1.doc_id IS NOT NULL THEN $BitSampled ELSE 0 END
           |     + CASE WHEN b2.doc_id IS NOT NULL THEN $BitDecontam ELSE 0 END
           |     + CASE WHEN b3.doc_id IS NOT NULL THEN $BitQuality ELSE 0 END
           |     + CASE WHEN b4.doc_id IS NOT NULL THEN $BitNearDup ELSE 0 END
           |     + CASE WHEN b5.doc_id IS NOT NULL THEN $BitDomainCap ELSE 0 END
           |     + CASE WHEN b6.doc_id IS NOT NULL THEN $BitTempMix ELSE 0 END AS INT) AS kept_reason,
           |  cd.n_cut AS n_cut,
           |  p5packed.shard AS shard
           |FROM documents d
           |LEFT JOIN (SELECT doc_id FROM s1) b1 ON d.doc_id = b1.doc_id
           |LEFT JOIN (SELECT doc_id FROM s2) b2 ON d.doc_id = b2.doc_id
           |LEFT JOIN (SELECT doc_id FROM s3) b3 ON d.doc_id = b3.doc_id
           |LEFT JOIN (SELECT doc_id FROM cs4) b4 ON d.doc_id = b4.doc_id
           |LEFT JOIN (SELECT doc_id FROM p5cap) b5 ON d.doc_id = b5.doc_id
           |LEFT JOIN (SELECT doc_id FROM p5mix) b6 ON d.doc_id = b6.doc_id
           |LEFT JOIN cd ON d.doc_id = cd.doc_id
           |LEFT JOIN p5packed ON d.doc_id = p5packed.doc_id""".stripMargin,

      // p6: p5's chain up to the mix survivors, then c5's plant+redact
      // formulas (shared: piiTextSql and the same dialect-safe regexes the
      // standalone c5 gate proves) re-anchored to p5mix, and the pack over
      // the REDACTED lengths.
      "p6_pipeline_shipped" ->
        s"""WITH $corpusCascadeSql,
           |${DedupQueries.spanCtesFor("s3", "x")},
           |${DedupQueries.cutCtesFor("s3", "x")},
           |$cutAdmitSql,
           |$curatedTailSql,
           |p6aug AS MATERIALIZED (
           |  SELECT doc_id, ${CurationQueries.piiTextSql} AS t FROM p5mix),
           |p6red AS MATERIALIZED (SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '${CurationQueries.EmailRe}'))
           |     + len(regexp_extract_all(t, '${CurationQueries.PhoneRe}')) AS INT) AS n_pii,
           |  regexp_replace(regexp_replace(t, '${CurationQueries.EmailRe}', '<EMAIL>', 'g'),
           |                 '${CurationQueries.PhoneRe}', '<PHONE>', 'g') AS r
           |  FROM p6aug),
           |p6h AS MATERIALIZED (SELECT doc_id, CAST(length(r) AS BIGINT) AS n_chars,
           |        ${CurationQueries.saltedHashSql("shard", "doc_id")} AS k FROM p6red),
           |p6packed AS MATERIALIZED (SELECT doc_id,
           |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY k, doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |    // ${CurationQueries.ShardBudget} AS shard FROM p6h)
           |SELECT d.doc_id,
           |  CAST(CASE WHEN b1.doc_id IS NOT NULL THEN $BitSampled ELSE 0 END
           |     + CASE WHEN b2.doc_id IS NOT NULL THEN $BitDecontam ELSE 0 END
           |     + CASE WHEN b3.doc_id IS NOT NULL THEN $BitQuality ELSE 0 END
           |     + CASE WHEN b4.doc_id IS NOT NULL THEN $BitNearDup ELSE 0 END
           |     + CASE WHEN b5.doc_id IS NOT NULL THEN $BitDomainCap ELSE 0 END
           |     + CASE WHEN b6.doc_id IS NOT NULL THEN $BitTempMix ELSE 0 END AS INT) AS kept_reason,
           |  cd.n_cut AS n_cut,
           |  p6red.n_pii AS n_pii,
           |  p6packed.shard AS shard
           |FROM documents d
           |LEFT JOIN (SELECT doc_id FROM s1) b1 ON d.doc_id = b1.doc_id
           |LEFT JOIN (SELECT doc_id FROM s2) b2 ON d.doc_id = b2.doc_id
           |LEFT JOIN (SELECT doc_id FROM s3) b3 ON d.doc_id = b3.doc_id
           |LEFT JOIN (SELECT doc_id FROM cs4) b4 ON d.doc_id = b4.doc_id
           |LEFT JOIN (SELECT doc_id FROM p5cap) b5 ON d.doc_id = b5.doc_id
           |LEFT JOIN (SELECT doc_id FROM p5mix) b6 ON d.doc_id = b6.doc_id
           |LEFT JOIN cd ON d.doc_id = cd.doc_id
           |LEFT JOIN p6red ON d.doc_id = p6red.doc_id
           |LEFT JOIN p6packed ON d.doc_id = p6packed.doc_id""".stripMargin,

      // p7: the corpus cascade to s3, the span/cut CTEs and cut-admission
      // prefix (cd/cs4 — day-1's curated population), the batch cascade
      // (b0..b4 — the admitted arrivals; needs the surrounding RECURSIVE),
      // then the curated tail RE-ANCHORED to the union: the standalone
      // c10/c9 CTE families over p7pop at the pipeline dials, c5's
      // plant+redact formulas, and the pack over the REDACTED lengths.
      "p7_curated_maintenance" ->
        s"""WITH RECURSIVE $corpusCascadeSql,
           |${DedupQueries.spanCtesFor("s3", "x")},
           |${DedupQueries.cutCtesFor("s3", "x")},
           |$cutAdmitSql,
           |$batchCascadeSql,
           |p7pop AS MATERIALIZED (
           |  SELECT doc_id, lang, source, text, 'day1' AS origin FROM cs4
           |  UNION ALL
           |  SELECT b3.doc_id, b3.lang, b3.source, b3.text, 'day2' AS origin
           |  FROM b3 JOIN b4 ON b3.doc_id = b4.doc_id),
           |${CurationQueries.domainCapCtesFor("p7pop", "p7", PipeDomainCap)},
           |p7cap AS MATERIALIZED (SELECT p7pop.* FROM p7pop JOIN p7dcap USING (doc_id)),
           |${CurationQueries.temperatureMixCtesFor("p7cap", "p7", PipeMixTarget)},
           |p7mix AS MATERIALIZED (SELECT p7cap.* FROM p7cap JOIN p7tmix USING (doc_id)),
           |p7aug AS MATERIALIZED (
           |  SELECT doc_id, ${CurationQueries.piiTextSql} AS t FROM p7mix),
           |p7red AS MATERIALIZED (SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '${CurationQueries.EmailRe}'))
           |     + len(regexp_extract_all(t, '${CurationQueries.PhoneRe}')) AS INT) AS n_pii,
           |  regexp_replace(regexp_replace(t, '${CurationQueries.EmailRe}', '<EMAIL>', 'g'),
           |                 '${CurationQueries.PhoneRe}', '<PHONE>', 'g') AS r
           |  FROM p7aug),
           |p7h AS MATERIALIZED (SELECT doc_id, CAST(length(r) AS BIGINT) AS n_chars,
           |        ${CurationQueries.saltedHashSql("shard", "doc_id")} AS k FROM p7red),
           |p7packed AS MATERIALIZED (SELECT doc_id,
           |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY k, doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |    // ${CurationQueries.ShardBudget} AS shard FROM p7h)
           |SELECT p.doc_id, p.origin,
           |  CAST(CASE WHEN b5.doc_id IS NOT NULL THEN $BitDomainCap ELSE 0 END
           |     + CASE WHEN b6.doc_id IS NOT NULL THEN $BitTempMix ELSE 0 END AS INT) AS sel_reason,
           |  p7red.n_pii AS n_pii,
           |  p7packed.shard AS shard
           |FROM p7pop p
           |LEFT JOIN (SELECT doc_id FROM p7cap) b5 ON p.doc_id = b5.doc_id
           |LEFT JOIN (SELECT doc_id FROM p7mix) b6 ON p.doc_id = b6.doc_id
           |LEFT JOIN p7red ON p.doc_id = p7red.doc_id
           |LEFT JOIN p7packed ON p.doc_id = p7packed.doc_id""".stripMargin,

      "p3_corpus_maintenance" ->
        s"""WITH RECURSIVE $corpusCascadeSql,
           |$batchCascadeSql,
           |merged AS MATERIALIZED (
           |  SELECT doc_id, n_chars, 'day1' AS origin FROM s5
           |  UNION ALL
           |  SELECT b3.doc_id, b3.n_chars, 'day2' AS origin FROM b3
           |  JOIN b4 ON b3.doc_id = b4.doc_id),
           |mh AS MATERIALIZED (SELECT doc_id, origin, CAST(n_chars AS BIGINT) AS n_chars,
           |        ${CurationQueries.saltedHashSql("shard", "doc_id")} AS k FROM merged)
           |SELECT doc_id, origin,
           |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY k, doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |    // ${CurationQueries.ShardBudget} AS shard
           |FROM mh""".stripMargin
    )
  }

  /** The p4 cut-branch cascade, appended after [[corpusCascadeSql]] and the
    * x-prefixed span/cut CTEs (it references s3 and `xcut`): the cut docs
    * `cd`, d3's banding family over the CUT text (csgl..crej — the same
    * formulas as the corpus cascade's sgl..rej, re-anchored), the mixture
    * cut, and the c6 pack formula over length(cut text). */
  /** The cut-admission prefix of [[cutCascadeSql]] — cut docs `cd` and the
    * near-dup survivor set `cs4` — factored out (r17) because p5 shares it
    * with p4 but runs the curated tail instead of the c3 mixture. */
  private lazy val cutAdmitSql: String =
    s"""cd AS MATERIALIZED (
       |  SELECT s3.doc_id, s3.lang, s3.source, xc.n_cut, xc.text
       |  FROM s3 JOIN xcut xc ON s3.doc_id = xc.doc_id),
       |${bandingRejCtesFor("cd", "c")},
       |cs4 AS MATERIALIZED (SELECT * FROM cd WHERE doc_id NOT IN (SELECT doc_id FROM crej))""".stripMargin

  private lazy val cutCascadeSql: String =
    s"""$cutAdmitSql,
       |cs5 AS MATERIALIZED (SELECT * FROM cs4
       |  WHERE ${CurationQueries.saltedHashSql("mix", "doc_id")} % 100 <
       |    [10, 25, 50, 100][CAST(CAST(substring(source, 4) AS INT) % 4 + 1 AS INT)]),
       |ch AS MATERIALIZED (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |        ${CurationQueries.saltedHashSql("shard", "doc_id")} AS k FROM cs5),
       |cpacked AS MATERIALIZED (SELECT doc_id,
       |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY k, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    // ${CurationQueries.ShardBudget} AS shard FROM ch)""".stripMargin

  /** The p5 curated tail, appended after [[cutAdmitSql]]: the c10 cap CTEs
    * re-anchored to cs4 at [[PipeDomainCap]], the c9 mix CTEs re-anchored
    * to the CAP SURVIVORS at [[PipeMixTarget]] (so the mixture weights are
    * computed from capped populations, same composition order as the Spark
    * flow), and p1's pack formula over length(cut text) of the mix
    * survivors. */
  private lazy val curatedTailSql: String =
    s"""${CurationQueries.domainCapCtesFor("cs4", "p5", PipeDomainCap)},
       |p5cap AS MATERIALIZED (SELECT cs4.* FROM cs4 JOIN p5dcap USING (doc_id)),
       |${CurationQueries.temperatureMixCtesFor("p5cap", "p5", PipeMixTarget)},
       |p5mix AS MATERIALIZED (SELECT p5cap.* FROM p5cap JOIN p5tmix USING (doc_id)),
       |p5h AS MATERIALIZED (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |        ${CurationQueries.saltedHashSql("shard", "doc_id")} AS k FROM p5mix),
       |p5packed AS MATERIALIZED (SELECT doc_id,
       |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY k, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    // ${CurationQueries.ShardBudget} AS shard FROM p5h)""".stripMargin

  /** The day-2 batch cascade (p2's b0 → b4) as a reusable CTE chain,
    * appended after [[corpusCascadeSql]] (it references bench, cnt, pre,
    * inst, s2, s5, shf and needs the surrounding WITH RECURSIVE for the
    * in-batch reachability) — shared by the p2 and p3 oracles so both
    * replay ONE batch-admission definition. */
  private lazy val batchCascadeSql: String = {
    val toks = tokensSql("text")
    val gram8 = CurationQueries.gram8Sql
    import DedupQueries.{JaccardT, ShingleK}
    s"""b0 AS MATERIALIZED (
           |  SELECT doc_id, lang, source, n_chars, text FROM documents
           |  WHERE NOT (${CurationQueries.saltedHashSql("smpl", "doc_id")} % 100 < 10)
           |    AND ${CurationQueries.saltedHashSql("day2", "doc_id")} % 100 < 10),
           |bcw AS MATERIALIZED (SELECT doc_id, $toks AS ws FROM b0 WHERE doc_id % 20 <> 0),
           |bhit AS MATERIALIZED (SELECT DISTINCT doc_id FROM (
           |    SELECT doc_id, unnest([$gram8 for i in range(0, len(ws) - 7)]) AS g FROM bcw) cg
           |  JOIN bench USING (g)),
           |b1 AS MATERIALIZED (SELECT * FROM b0 WHERE doc_id % 20 <> 0
           |       AND doc_id NOT IN (SELECT doc_id FROM bhit)),
           |btt AS MATERIALIZED (SELECT doc_id, $toks AS ws FROM b1),
           |binst AS MATERIALIZED (
           |  SELECT doc_id,
           |    unnest([${polyHashSql("ws[i+1] || ' ' || ws[i+2]")}
           |            for i in range(0, len(ws) - 1)]) AS g,
           |    unnest([${polyHashSql("ws[i+1]")}
           |            for i in range(0, len(ws) - 1)]) AS pg
           |  FROM btt WHERE len(ws) >= 2),
           |bprob AS MATERIALIZED (SELECT doc_id, binst.g AS g,
           |        COALESCE(CAST(c AS DOUBLE) / CAST(c1 AS DOUBLE), CAST(0 AS DOUBLE)) AS p
           |      FROM binst LEFT JOIN cnt ON binst.g = cnt.g
           |                 LEFT JOIN pre ON binst.pg = pre.pg),
           |bscore AS MATERIALIZED (
           |  SELECT doc_id,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY g, p)),
           |      (a, x) -> a + x) / COUNT(*) AS avg_p
           |  FROM bprob GROUP BY doc_id),
           |owng AS MATERIALIZED (SELECT doc_id, g, COUNT(*)::BIGINT AS og FROM inst GROUP BY doc_id, g),
           |ownp AS MATERIALIZED (SELECT doc_id, pg, COUNT(*)::BIGINT AS op FROM inst GROUP BY doc_id, pg),
           |ploo AS MATERIALIZED (SELECT i.doc_id, i.g AS g,
           |    CASE WHEN (c1 - op) > 0
           |         THEN CAST(c - og AS DOUBLE) / CAST(c1 - op AS DOUBLE)
           |         ELSE CAST(0 AS DOUBLE) END AS p
           |  FROM inst i JOIN cnt ON i.g = cnt.g
           |              JOIN pre ON i.pg = pre.pg
           |              JOIN owng ON owng.doc_id = i.doc_id AND owng.g = i.g
           |              JOIN ownp ON ownp.doc_id = i.doc_id AND ownp.pg = i.pg),
           |scoreloo AS MATERIALIZED (
           |  SELECT doc_id,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY g, p)),
           |      (a, x) -> a + x) / COUNT(*) AS avg_p
           |  FROM ploo GROUP BY doc_id),
           |thf AS MATERIALIZED (SELECT lang, quantile_cont(s.avg_p, 0.3) AS p30
           |        FROM scoreloo s JOIN s2 d USING (doc_id) GROUP BY lang),
           |bq AS MATERIALIZED (SELECT s.doc_id FROM bscore s JOIN b1 d USING (doc_id)
           |       JOIN thf ON d.lang = thf.lang WHERE s.avg_p >= thf.p30),
           |b2 AS MATERIALIZED (SELECT * FROM b1 WHERE doc_id IN (SELECT doc_id FROM bq)),
           |bsgl AS MATERIALIZED (
           |  SELECT doc_id,
           |    CASE WHEN len(t) >= $ShingleK THEN list_distinct(list_transform(
           |      [array_to_string(t[i+1:i+$ShingleK], ' ') for i in range(0, len(t) - ${ShingleK - 1})],
           |      x -> ${polyHashSql("x")}))
           |    ELSE [] END AS sh
           |  FROM (SELECT doc_id, $toks AS t FROM b2)),
           |bshf AS MATERIALIZED (SELECT doc_id, sh FROM bsgl WHERE len(sh) > 0),
           |bsig AS MATERIALIZED (SELECT doc_id, sh, ${minhashSignatureSql("sh")} AS sig FROM bshf),
           |nb AS MATERIALIZED (
           |  SELECT doc_id,
           |         CAST(band AS VARCHAR) || ':' ||
           |           array_to_string(sig[band*$RowsPerBand+1 : band*$RowsPerBand+$RowsPerBand], '-') AS bkey
           |  FROM bsig, range($NumBands) r(band)),
           |ob AS MATERIALIZED (SELECT doc_id, bkey FROM bands
           |       WHERE doc_id IN (SELECT doc_id FROM s5)),
           |-- MaxBandPop hot-band cap (r17), replaying d12's dial verbatim
           |obcold AS MATERIALIZED (SELECT bkey FROM ob GROUP BY bkey
           |       HAVING COUNT(*) <= ${DedupQueries.MaxBandPop}),
           |obc AS MATERIALIZED (SELECT ob.doc_id, ob.bkey FROM ob JOIN obcold USING (bkey)),
           |candold AS MATERIALIZED (
           |  SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
           |  FROM nb n JOIN obc o ON n.bkey = o.bkey),
           |dupvsold AS MATERIALIZED (
           |  SELECT DISTINCT doc_new FROM candold
           |  JOIN bshf sn ON sn.doc_id = candold.doc_new
           |  JOIN shf so ON so.doc_id = candold.doc_old
           |  WHERE CAST(len(list_intersect(sn.sh, so.sh)) AS DOUBLE) /
           |          (len(sn.sh) + len(so.sh) - len(list_intersect(sn.sh, so.sh))) >= $JaccardT),
           |ibp AS MATERIALIZED (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM nb a JOIN nb b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |ibv AS MATERIALIZED (
           |  SELECT doc_a, doc_b FROM ibp
           |  JOIN bshf sa ON sa.doc_id = ibp.doc_a
           |  JOIN bshf sb ON sb.doc_id = ibp.doc_b
           |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
           |          (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= $JaccardT),
           |bi AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM ibv
           |       UNION ALL SELECT doc_b AS a, doc_a AS b FROM ibv),
           |reach(node, r) AS (
           |  SELECT a, b FROM bi
           |  UNION
           |  SELECT reach.node, bi.b FROM reach JOIN bi ON bi.a = reach.r WHERE bi.b <> reach.node),
           |member AS MATERIALIZED (SELECT node AS doc_new, MIN(r) AS cl FROM reach GROUP BY node HAVING MIN(r) < node),
           |contam AS MATERIALIZED (
           |  SELECT COALESCE(m.cl, d.doc_new) AS doc_new
           |  FROM dupvsold d LEFT JOIN member m ON m.doc_new = d.doc_new),
           |brej AS MATERIALIZED (
           |  -- DISTINCT over UNION ALL, not UNION: inside WITH RECURSIVE,
           |  -- DuckDB does not dedup a non-recursive UNION (the d6/r01 gotcha)
           |  SELECT DISTINCT doc_new FROM (
           |    SELECT doc_new FROM dupvsold
           |    UNION ALL SELECT doc_new FROM member
           |    UNION ALL SELECT doc_new FROM contam)),
           |b3 AS MATERIALIZED (SELECT * FROM b2 WHERE doc_id NOT IN (SELECT doc_new FROM brej)),
           |b4 AS MATERIALIZED (SELECT doc_id FROM b3
           |  WHERE ${CurationQueries.saltedHashSql("mix", "doc_id")} % 100 <
           |    [10, 25, 50, 100][CAST(CAST(substring(source, 4) AS INT) % 4 + 1 AS INT)])""".stripMargin
  }
}
