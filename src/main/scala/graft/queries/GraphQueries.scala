package graft.queries

import graft.Checkpoints
import graft.Checkpoints.EagerOps
import graft.ccf.{CCF, Generators}
import graft.graph.GraphBuilders
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver-facing queries for the CCF operator family (SURVEY.md §2a), run over
 * the co-purchase part graph derived from `lineitem` (FIXTURES.md §B) so every
 * result is DuckDB-oracle-checkable. Keys here are `l_partkey` LONGs (numeric
 * ordering); reference string semantics are exercised by `ccf_chain` (string
 * ids) and by the ScalaTest golden suites.
 *
 * The CCF fixpoint itself is oracle-checked with a DuckDB recursive CTE that
 * computes, for every node, the minimum over its reachability set — the
 * textbook declarative definition of "smallest node id in the component".
 */
object GraphQueries {

  /** Converged CCF assignments, memoized per (session, dir): four of the
    * queries below share the same fixpoint, and re-running the iterative
    * job for each would cost 4x the round's dominant bench time (ADVICE r01).
    * The cached DataFrame is backed by an eager localCheckpoint, so reuse
    * reads materialized blocks, not lineage. Session lifecycle handled by
    * [[SessionCache]] (UUID keys, stopped-context purge, explicit eviction). */
  private val asgnCache = new SessionCache[String]

  /** Memoized canonical co-purchase edge set (the lineitem self-join), shared
    * by edge_bidirect / min_neighbor / dedup_pairs and the CCF fixpoint —
    * derived once per (session, dir), reused from materialized blocks. */
  private val edgeCache = new SessionCache[String]

  private def edges(s: SparkSession, dir: String): DataFrame =
    edgeCache.getOrElseUpdate(s, dir)(SharedBuilds.timed("copurchase_edges")(
      GraphBuilders.copurchaseEdges(s, dir).eagerCheckpoint()))

  /** Memoized per-node degree table (node, deg) over the bidirected
    * co-purchase graph — shared by g1 (orientation + packability probe) and
    * g2 (out-degree normalization + rank init), which each used to re-run
    * the same bidirect+groupBy pass (VERDICT r9 #2: attribute g2's build
    * cost; sharing it also removes one full-edge aggregation per bench pass).
    * Its row count rides the build job and stays in the checkpoint's exact
    * stats, which the cache keeps ([[Checkpoints.observedRows]]). */
  private val degCache = new SessionCache[String]

  private def degrees(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir) // hoisted so a cold cache bills the edge build separately
    degCache.getOrElseUpdate(s, dir)(SharedBuilds.timed("copurchase_degrees")(
      Checkpoints.materialize(CCF.bidirect(e).groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg")), "degrees")().df))
  }

  /** Memoized PageRank out-edge stream (src, dst, outdeg) — the build input
    * every g2 round joins against; built once per (session, dir) from the
    * shared edges + degrees, so the gated query's timing is the five rounds
    * themselves (the build appears as its own shared_builds line item). */
  private val outECache = new SessionCache[String]

  private def pagerankOutE(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val deg = degrees(s, dir)
    val outdeg = deg.select(col("node").as("src"), col("deg").as("outdeg"))
    outECache.getOrElseUpdate(s, dir)(SharedBuilds.timed("pagerank_outE")(
      // deg is O(nodes) — broadcast it within the byte budget the per-round
      // rank broadcast uses; past it the planner shuffles this one-time
      // build join, never the rounds. Plain checkpoint, not a
      // dst-partitioned one: the rounds keep their one contribution
      // exchange, so partial collect_list and AQE coalescing stay (the
      // exchange-free r18 build was 5x slower at local[32], OPTIMIZATION_r19).
      CCF.bidirect(e)
        .join(Checkpoints.broadcastWithinBudget(outdeg, Checkpoints.observedRows(deg)), "src")
        .eagerCheckpoint()))
  }

  /** Memoized dst-partitioned bidirected edge set for g3 (r18, guide §2.4):
    * every LPA round aggregates by (dst, label) then by dst, so with the
    * edge stream hash-partitioned by dst once (checkpoint preserves
    * outputPartitioning) and the O(nodes) label table broadcast, a round
    * needs ZERO exchanges — 3 rounds × 2 aggregation exchanges → the one
    * repartition paid here (plan-pinned in PlanSpec). */
  private val biDstCache = new SessionCache[String]

  private def bidirectByDst(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    biDstCache.getOrElseUpdate(s, dir)(SharedBuilds.timed("bidirect_by_dst")(
      CCF.bidirect(e).repartition(col("dst")).eagerCheckpointKeepPartitioning()))
  }

  private def assignments(s: SparkSession, dir: String): DataFrame = {
    // hoist the edge build out of the timed assignments lambda so a cold
    // cache attributes edge-derivation to "copurchase_edges", not the fixpoint
    val e = edges(s, dir)
    asgnCache.getOrElseUpdate(s, dir)(
      // Bench's shared_builds and perfbench's suite report the fixpoint
      // under this name
      SharedBuilds.timed("ccf_assignments_Basic")(
        // eager checkpoint so every reuse reads materialized blocks
        CCF.run(e).assignments.eagerCheckpoint()))
  }

  /** Evict this session's memoized edge/assignment checkpoints (long-lived
    * services; one-shot Verify/Bench processes never need to call it). */
  def clearCaches(s: SparkSession): Unit = {
    asgnCache.clear(s); edgeCache.clear(s); degCache.clear(s); outECache.clear(s)
    biDstCache.clear(s)
  }

  private[queries] def cachedEntryCount: Int =
    asgnCache.size + edgeCache.size + degCache.size + outECache.size +
      biDstCache.size

  /** Shared DuckDB CTE: canonical distinct co-purchase edges. Must stay in
    * lockstep with [[GraphBuilders.copurchaseEdges]]. */
  private val edgesCte =
    """e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |)""".stripMargin

  private val reachCte =
    s"""WITH RECURSIVE $edgesCte,
       |bi AS (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst AS a, src AS b FROM e),
       |reach(node, r) AS (
       |  SELECT a, b FROM bi
       |  UNION
       |  SELECT reach.node, bi.b FROM reach JOIN bi ON bi.a = reach.r WHERE bi.b <> reach.node
       |),
       |asgn AS (
       |  SELECT node, MIN(r) AS component FROM reach GROUP BY node HAVING MIN(r) < node
       |)""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O8 full pipeline: (node, component), representative has no self-row.
    "ccf_components" -> ((s, dir) => assignments(s, dir)),

    // Variant agreement (O5): both kernel labels run the one kernel
    // (CCF.Variant), so this reads the same memoized fixpoint.
    "ccf_components_secondary_sort" -> ((s, dir) => assignments(s, dir)),

    // Pointer-jumping variant (§2c, beyond the reference): static-topology
    // label iteration — per-round state is exactly one row per node, no
    // intermediate pair blowup, the long-diameter complement to CCF. Same
    // output contract, same reachability oracle.
    "ccf_components_pj" -> ((s, dir) =>
      graft.ccf.PointerJump.run(edges(s, dir)).assignments),

    // O10: number of connected components.
    "ccf_component_count" -> ((s, dir) =>
      assignments(s, dir).agg(countDistinct(col("component")).as("n_components"))),

    // O11: component -> sorted member list (rep re-added), CSV-joined so the
    // oracle compare is a plain string column.
    "ccf_membership" -> ((s, dir) =>
      CCF.membership(assignments(s, dir)).select(
        col("component"),
        concat_ws(",", transform(col("members"), _.cast("string"))).as("members_csv"))),

    // O2: bidirectional edge emit.
    "edge_bidirect" -> ((s, dir) =>
      CCF.bidirect(edges(s, dir))),

    // O4 inner step: per-node min neighbor over the bidirected graph.
    "min_neighbor" -> ((s, dir) =>
      CCF.bidirect(edges(s, dir))
        .groupBy(col("src").as("node"))
        .agg(min(col("dst")).as("min_nbr"))
        .select(col("node"), col("min_nbr"))),

    // O7: dedup — the canonical distinct pair set itself.
    "dedup_pairs" -> ((s, dir) => edges(s, dir)),

    // O14 + O8 over string ids: chain graph, lexicographic semantics, via the
    // distributed generator. Every node but "0" maps to "0". n=500 = the
    // reference's largest chain config (string ordering scatters intermediate
    // minima, so larger string chains inflate intermediate pair sets —
    // Generators.chainDF scaladoc; numeric-key scale is covered by ScaleSpec).
    "ccf_chain" -> ((s, _) =>
      CCF.run(Generators.chainDF(s, 500)).assignments),

    // Engine auto-selection (§2c; VERDICT r05 #4): CCF with the blowup
    // detector, on the exact shape that needs it — the string chain's
    // intermediate pair set doubles per round, so the run starts as CCF and
    // restarts as PointerJump on the input edges, with no caller hint. Same
    // answer either way (both engines compute components of the input);
    // same oracle as ccf_chain.
    "ccf_auto_chain" -> ((s, _) =>
      CCF.auto(Generators.chainDF(s, 500)).assignments),

    // TRIANGLE COUNTING per node (beyond the reference — the standard graph
    // co-occurrence statistic next to connected components). Formulation is
    // the degree-ordered orientation: each undirected edge points from its
    // (degree, id)-smaller endpoint, so every node's out-degree is bounded
    // by O(√m) on any graph and the wedge self-join can't blow up on hub
    // vertices — work is O(m^1.5) worst case instead of Σ deg² (the same
    // hub-skew failure mode the reference flags for CCF, solved structurally
    // here rather than by salting). Each triangle {a,b,c} is generated
    // exactly once, as a wedge at its orientation-minimum vertex, then
    // credited to all three corners. The wedge build and the closing edge
    // list each take their join hint from the byte budget
    // (Checkpoints.broadcastWithinBudget): broadcast while their own bytes
    // fit, shuffled past it, one plan either way (see [[trianglesOf]]).
    "g1_triangles" -> ((s, dir) =>
      trianglesOf(edges(s, dir), Some(degrees(s, dir)))),

    // PAGERANK (g2, r08) — the second classic iterative graph analytic next
    // to connected components: damped power iteration over the bidirected
    // co-purchase graph (symmetric, so no dangling-mass term). Fixed
    // [[PagerankIters]] rounds make the result closed-form and
    // oracle-expressible as an UNROLLED chain of CTEs (no recursion needed).
    // Per-neighbor float sums go through the same order-deterministic
    // (key, term)-sorted sequential fold as t6 (`SortedTermSum` here,
    // `list(x ORDER BY src, x)` + list_reduce in the oracle) so ranks are
    // bit-identical across engines. Past [[MaxParityInDegree]] the core
    // swaps the fold for a plain codegen SUM by itself (order-free within fp
    // tolerance; same join/agg shape per round) — every fixture's max degree
    // is far below it, so g2 stays on the oracle-parity fold. The rank table
    // takes its join hint from the byte budget: broadcast into each round
    // while its bytes fit, shuffled past it (see [[pagerankCore]]).
    "g2_pagerank" -> ((s, dir) =>
      pagerankCore(pagerankOutE(s, dir),
        degrees(s, dir).select(col("node").as("src"), col("deg").as("outdeg")),
        PagerankIters)),

    // LABEL PROPAGATION (g3, r10): synchronous community detection over the
    // co-purchase graph — LpaIters fixed rounds of "adopt the most frequent
    // neighbor label, ties to the smallest", from self-labels. The
    // mode-vote aggregation is a genuinely different fixpoint kernel from
    // CCF's min and PageRank's sum: two-level (count per (node, label),
    // then composite argmax), both levels map-side combinable, and every
    // comparison is integer — no float-parity machinery needed. Fixed
    // round count keeps it oracle-unrollable (the g2 technique) and
    // deterministic (synchronous LPA with a total tie order has no
    // run-to-run wobble, unlike the async variant).
    // r18: rounds run over the memoized dst-partitioned edge stream with the
    // O(nodes) label table broadcast (its hint from the byte budget, see
    // [[lpaOf]]) — zero exchanges per round; see [[bidirectByDst]].
    // Identical output: the mode-vote is integer-exact under any
    // partitioning.
    "g3_label_propagation" -> ((s, dir) =>
      lpaOf(bidirectByDst(s, dir), LpaIters))
  )

  /** g3 round count (communities stabilize on the planted fixture in 3;
    * the gated value is part of the oracle contract). */
  val LpaIters = 3

  /** Synchronous LPA over a bidirected (src, dst) edge frame: label_0 =
    * self; each round every node adopts its neighbors' modal label (count
    * desc, label asc — the (c, -label) composite max, CCF/kmeans style).
    * Per-round cost: one join keyed src + two map-side-combinable
    * aggregates; the n-row label table is checkpointed per round (lineage
    * cut, same as the PageRank rank table) by [[graft.Checkpoints.fixpoint]],
    * which frees the rounds by its one rule and never frees `bi`. A round's
    * input label table takes its hint from its observed rows
    * ([[graft.Checkpoints.broadcastWithinBudget]]): broadcast within the
    * byte budget; past it the label join shuffles, and at 100 TB the label
    * table co-partitions with the edge list's src shuffle, so rounds reuse
    * one exchange layout. */
  private[graft] def lpaOf(bi: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"lpa needs >= 1 round, got $iters")
    // Round 1 fused (r11): labels start as identity, so round 1's src-keyed
    // label join maps label := src — a no-op worth one m-row shuffle join
    // PLUS the distinct-node init build it feeds. Round 1 is therefore the
    // two-level mode-vote aggregate alone, straight off the edge list
    // (identical output: every node appears as dst in a bidirected frame),
    // and the loop starts from `bi` itself.
    Checkpoints.fixpoint(bi, iters) { (lab, i) =>
      Checkpoints.materialize(if (i == 1) lpaStep1(bi)
        else lpaStep(bi, Checkpoints.broadcastWithinBudget(lab, Checkpoints.observedRows(lab))),
        s"lpa round $i")()
    }.result
  }

  /** Round 1 of synchronous LPA with identity labels, join-free (see
    * [[lpaOf]]); same two map-side-combinable aggregate levels as
    * [[lpaStep]], PlanSpec-pinned. */
  private[queries] def lpaStep1(bi: DataFrame): DataFrame =
    bi.groupBy(col("dst").as("node"), col("src").as("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy("node")
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("node"), (-col("m.nl")).as("label"))

  /** [[lpaUntilStable]] outcome: converged community labels plus how many
    * rounds ran — the same contract shape as [[graft.ccf.CCF.CCFResult]]. */
  final case class LpaResult(labels: DataFrame, iterations: Int, converged: Boolean)

  /** g3's production form (VERDICT r10 #7): synchronous LPA run until NO
    * node changes label, or `maxIters`. The fixed-round [[lpaOf]] stays the
    * gated definition (a fixed round count is what makes g3
    * oracle-unrollable); a user running community detection calls this.
    *
    * Convergence detection is the CCF skeleton ([[graft.Checkpoints.fixpoint]]):
    * each round's changed-label count rides the SAME job that materializes
    * the round's checkpoint (`Dataset.observe` on the new-vs-previous label
    * join — one extra broadcast-free join keyed node, co-partitioned with
    * the label shuffle), with a bounded-wait fallback. Per round: one job,
    * no second count() action; checkpoints follow the loop's one free rule.
    * Note synchronous LPA can 2-cycle on bipartite-ish structures
    * (labels oscillating between two assignments) — `maxIters` bounds that;
    * `converged=false` reports it honestly. */
  def lpaUntilStable(bi: DataFrame, maxIters: Int = 100): LpaResult = {
    val start = Checkpoints.materialize(bi.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")), "lpa labels")()
    def diff(lab: DataFrame, prev: DataFrame): DataFrame =
      lab.join(prev.select(col("node"), col("label").as("prev_label")), "node")
    val fix = Checkpoints.fixpoint(start.df, maxIters, until = Some("changed"),
        ownsStart = true) { (prev, i) =>
      val labels = Checkpoints.broadcastWithinBudget(prev, start.rows)
      Checkpoints.materialize(diff(lpaStep(bi, labels), prev), s"lpa round $i",
          coalesce(sum(when(col("label") =!= col("prev_label"), 1L)
            .otherwise(0L)), lit(0L)).as("changed"))(
        fallback = lab => Map("changed" ->
          diff(lab, prev).where(col("label") =!= col("prev_label")).count()),
        finish = _.select(col("node"), col("label")))
    }
    LpaResult(fix.result, fix.rounds, fix.converged)
  }

  /** One synchronous LPA round (un-checkpointed — PlanSpec pins that both
    * aggregate levels carry map-side partials on an unpartitioned edge
    * frame, and that a dst-partitioned edge frame plans ZERO exchanges).
    * `lab` (node, label) carries its caller's join hint: both loops pass it
    * through [[graft.Checkpoints.broadcastWithinBudget]], so within the
    * budget the O(nodes) label side broadcasts and a dst-partitioned `bi`
    * keeps its partitioning through the join (the g2 rank-table move). */
  private[queries] def lpaStep(bi: DataFrame, lab: DataFrame): DataFrame =
    bi.join(lab.select(col("node").as("src"), col("label")), "src")
      .groupBy(col("dst").as("node"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy("node")
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("node"), (-col("m.nl")).as("label"))

  /** Per-node triangle counts over a canonical (src < dst, distinct) edge
    * set — parametric for fixture/agreement specs; see the g1 notes above.
    * `degShared` lets the gated def reuse the memoized (node, deg) table. */
  private[queries] def trianglesOf(e: DataFrame,
                                   degShared: Option[DataFrame] = None): DataFrame = {
    // staged: deg (one tiny row per node) feeds both orientation joins AND
    // the packability min/max probe below — unstaged, each re-runs the
    // bidirect + groupBy pass over the full edge set
    val deg = degShared.getOrElse(CCF.bidirect(e)
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .eagerCheckpoint())
    val keyed = e
      .join(deg.select(col("node").as("src"), col("deg").as("dsrc")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("ddst")), "dst")
    // r19 (guide §2.3): the packability/size probe is hoisted ABOVE the
    // oriented build so the orientation key itself can use the packed form.
    // Both probes ride ONE O(nodes) aggregate on the deg table the pipeline
    // computes anyway (same observed-stats style as CCF.auto); sum(deg)/2
    // is the exact undirected edge count.
    val ids = deg.agg(min(col("node")), max(col("node")), sum(col("deg"))).head
    val packable = !ids.isNullAt(0) &&
      ids.getLong(0) >= 0L && ids.getLong(1) < (1L << 31)
    val nEdges = if (ids.isNullAt(2)) 0L else ids.getLong(2) / 2L
    // r19 (guide §2.3 "narrower types"): when ids fit [0, 2^31) the (deg,
    // id) orientation key packs into ONE long — deg < 2^31 always (bounded
    // by node count), so deg<<32|id preserves the lexicographic (deg, id)
    // order as a primitive comparison. The wedge join evaluates this key
    // O(outdeg²) times per vertex group and shuffles/broadcasts it with
    // every oriented edge; a long halves the row vs the 2-field struct and
    // compares without struct-walking codegen. Falls back to the struct
    // key when ids are out of range (orientation semantics identical).
    def key(d: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      if (packable) shiftleft(d, 32).bitwiseOR(n)
      else struct(d.as("d"), n.as("n"))
    val srcKey = key(col("dsrc"), col("src"))
    val dstKey = key(col("ddst"), col("dst"))
    val srcFirst = srcKey < dstKey
    // staged: the oriented edge table feeds the wedge join TWICE and the
    // closing join once — materialize it so the degree shuffle+joins run
    // once, not three times (same engine-level staging as the edge cache;
    // measured 9.0 → ~4 s at sf0.1)
    val oriented = keyed.select(
      when(srcFirst, col("src")).otherwise(col("dst")).as("u"),
      when(srcFirst, col("dst")).otherwise(col("src")).as("v"),
      when(srcFirst, dstKey).otherwise(srcKey).as("vkey"))
      .eagerCheckpoint()
    // r19 (guide §2.4/§3.1): the wedge self-join was a SortMergeJoin —
    // TWO exchanges + two sorts of the full oriented table (plan dump
    // plans/r18/g1_triangles_before.txt ops 3-9). While the oriented table's
    // bytes (nEdges × 24 B packed) are within the broadcast budget,
    // broadcast the build side: each wedge is generated in its producing
    // partition, zero wedge exchanges, and the whole
    // wedge→close→explode→partial-agg chain runs as one map-side pipeline
    // (the only remaining exchange is the final per-node count). Past the
    // budget the hint is dropped and the same self-join plans as a shuffled
    // equi-join (PlanSpec pins both shapes).
    val wedgeBuild = Checkpoints.broadcastWithinBudget(oriented, nEdges).as("b")
    val wedges = oriented.as("a").join(wedgeBuild,
        col("a.u") === col("b.u") && col("a.vkey") < col("b.vkey"))
      .select(col("a.u").as("u"), col("a.v").as("x"), col("b.v").as("y"))
    // Closing join — two measured choices (9.0 → ~2.5 s at sf0.1 combined):
    //  * broadcast the EDGE LIST (2 longs/row), never the wedge stream —
    //    wedges outnumber edges ~34x here (41M vs 1.2M), so shuffling them
    //    dominates everything; broadcast keeps each wedge in its producing
    //    partition. Selection is AUTOMATIC from the observed edge count
    //    (VERDICT r07 #4): past the byte budget (nEdges × 8 B packed, so
    //    64M edges at the default) the edge list would not fit a broadcast,
    //    so the hint is dropped and the planner runs a shuffled equi-join —
    //    still no fan-out beyond the wedge set, just an exchange on it. The
    //    closing list is a third of the wedge build's bytes, so between the
    //    two it broadcasts while the wedge join shuffles.
    //  * pack the (x, y) pair into ONE long key when the observed id range
    //    allows (ids in [0, 2^31): x<<32|y is collision-free) — a
    //    single-long equi-join builds Spark's specialized LongHashedRelation
    //    instead of the generic row-keyed table, ~3x faster over 41M probes.
    //    (The packability/edge-count probe is hoisted above the oriented
    //    build — r19 — so the orientation key shares the packed form.)
    val closing =
      if (packable) oriented.select(
        shiftleft(col("u"), 32).bitwiseOR(col("v")).as("pq"))
      else oriented.select(col("u").as("x"), col("v").as("y"))
    val build = Checkpoints.broadcastWithinBudget(closing, nEdges)
    val tri =
      if (packable)
        wedges.withColumn("pq", shiftleft(col("x"), 32).bitwiseOR(col("y")))
          .join(build, "pq")
      else wedges.join(build, Seq("x", "y"))
    tri.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Damped (0.85) PageRank over a canonical (src < dst) edge set, treated
    * as undirected via [[CCF.bidirect]] — parametric in rounds for the g2
    * notes above and the fixture spec. Builds the tables [[pagerankCore]]
    * takes; `step` as there.
    *
    * Scale shape per round: the O(nodes) rank table broadcast into the
    * out-edge stream while it is within the byte budget (past it, ONE
    * shuffle of the out-edge stream hash-joined against it), then ONE
    * aggregation exchange keyed by destination. The out-edge table (edges +
    * contributor degree) is built once and eagerly checkpointed, and freed
    * once the rounds are done; each round's rank table is checkpointed so
    * planning stays O(1) in rounds (same pattern as the CCF fixpoint). */
  private[graft] def pagerankOf(e0: DataFrame, iters: Int,
                                step: Option[PagerankStep] = None): DataFrame = {
    val bi = CCF.bidirect(e0)
    val deg = bi.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // the per-round join's build input: each out-edge with its contributor's
    // out-degree attached (materialized once, reused every round)
    val outE = bi.join(deg, "src").eagerCheckpoint()
    val ranks = pagerankCore(outE, deg, iters, step)
    Checkpoints.free(outE)
    ranks
  }

  /** One PageRank round: (outE, ranks, base) => next ranks. */
  private[graft] type PagerankStep = (DataFrame, DataFrame, Double) => DataFrame

  /** The one PageRank round loop: `outE` = (src, dst, outdeg) build input
    * (already materialized), `deg` = (src, outdeg) for rank init. The gated
    * g2 def enters here with the MEMOIZED outE/degrees so its bench timing
    * is the rounds themselves, not a per-query rebuild of the edge stream.
    *
    * The step is picked from the degree table: its one aggregate yields the
    * node count (rank init) and the max degree ([[pagerankStrategy]]) in the
    * same job. `step` overrides the pick (specs compare the two steps).
    * Rounds run in [[graft.Checkpoints.fixpoint]] and follow its free rule;
    * the initial ranks read the caller's `deg`, which is never freed. */
  private[graft] def pagerankCore(outE: DataFrame, deg: DataFrame, iters: Int,
                                  step: Option[PagerankStep] = None): DataFrame = {
    val (n, picked) = pagerankPlan(deg)
    val round = step.getOrElse(picked)
    val start = deg.select(col("src").as("node"), lit(1.0 / n).as("rank"))
    // The per-round rank table is O(nodes) x 16 B — broadcast it within the
    // byte budget so each round's join is map-side and the out-edge stream
    // never re-shuffles into the join (measured 6.9 → 5.7 s at sf0.1; the
    // remaining round cost is the parity fold's per-dst contribution
    // exchange, which the plain-SUM [[pagerankFastStep]] shrinks to
    // partials). Past the budget the hint is dropped: the planner shuffles
    // the exchange-keyed join, the 1000-executor layout (where you would
    // ALSO pre-partition outE by src once and let every round reuse that
    // exchange).
    Checkpoints.fixpoint(start, iters) { (ranks, i) =>
      Checkpoints.materialize(round(outE, Checkpoints.broadcastWithinBudget(ranks, n), 0.15 / n),
        s"pagerank round $i")()
    }.result.select(col("node"), col("rank").as("pagerank"))
  }

  /** Node count and selected step of a (src, outdeg) degree table, from one
    * aggregate job. */
  private def pagerankPlan(deg: DataFrame): (Long, PagerankStep) = {
    val stats = deg.agg(count(lit(1)), max(col("outdeg"))).head()
    val maxDeg = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val step: PagerankStep =
      if (pagerankStrategy(maxDeg) == "fast") pagerankFastStep else pagerankParityStep
    (stats.getLong(0), step)
  }

  /** One parity round (no checkpoint — PlanSpec plans it raw): join, then
    * the order-deterministic per-dst fold over collected contributions. */
  private[graft] def pagerankParityStep(outE: DataFrame, ranks: DataFrame,
                                        base: Double): DataFrame =
    outE.join(ranks, col("src") === col("node"))
      .select(col("dst"),
        struct(col("src").as("g"), (col("rank") / col("outdeg")).as("t")).as("c"))
      .groupBy("dst")
      .agg(graft.functions.VectorFunctions.sortedTermSum(collect_list(col("c"))).as("s"))
      .select(col("dst").as("node"),
        (lit(base) + lit(0.85) * col("s")).as("rank"))

  /** One fast round (no checkpoint), the hub-safe path for g2: identical
    * per-round join/agg shape but plain codegen SUM for the neighbor fold —
    * partial aggregation combines map-side, so each round's exchange
    * carries one partial per (partition, dst) instead of EVERY contribution
    * row (the collect_list the order-deterministic fold forces).
    * Order-nondeterministic float sums: per-node drift vs the parity fold is
    * ≤ in_deg·ulp per round — spec pins agreement to 1e-12. */
  private[graft] def pagerankFastStep(outE: DataFrame, ranks: DataFrame,
                                      base: Double): DataFrame =
    outE.join(ranks, col("src") === col("node"))
      .select(col("dst"), (col("rank") / col("outdeg")).as("t"))
      .groupBy("dst")
      .agg(sum(col("t")).as("s"))
      .select(col("dst").as("node"),
        (lit(base) + lit(0.85) * col("s")).as("rank"))

  private[queries] val PagerankIters = 5

  /** Above this max in-degree the parity fold's per-dst `collect_list`
    * state (~24 B/contribution → ~24 MB per hub node) risks a single-task
    * OOM, and [[pagerankCore]] swaps in the plain-SUM [[pagerankFastStep]]
    * (map-side partials, skew-immune, ≤1e-12 drift). */
  private[queries] val MaxParityInDegree = 1L * 1000 * 1000

  /** The step [[pagerankCore]] runs, from the observed max degree (degrees
    * are symmetric here — edges are bidirected — so max out-degree == max
    * in-degree): "parity" keeps the order-deterministic fold, "fast" the
    * map-side-partial SUM. The same observe-then-choose shape as `CCF.auto`
    * (rounds) and g1 (broadcast vs shuffle). */
  private[queries] def pagerankStrategy(maxDeg: Long): String =
    if (maxDeg > MaxParityInDegree) "fast" else "parity"

  /** Unrolled PageRank oracle: r0 (uniform) then `iters` chained CTE steps,
    * each the exact SQL twin of one [[pagerankParityStep]] round
    * (CAST(0.15/0.85 AS DOUBLE) so DuckDB's decimal literals don't change
    * the IEEE op chain). */
  private def pagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""r$k AS (SELECT e2.dst AS node,
         |  CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) * list_reduce(
         |    list_prepend(CAST(0 AS DOUBLE),
         |      list(r.rank / d.outdeg ORDER BY e2.src, r.rank / d.outdeg)),
         |    (a, x) -> a + x) AS rank
         |  FROM bi e2 JOIN r${k - 1} r ON e2.src = r.node
         |              JOIN deg d ON e2.src = d.src
         |  CROSS JOIN nn GROUP BY e2.dst, nn.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |bi AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
       |deg AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM bi GROUP BY 1),
       |nn AS (SELECT COUNT(*)::BIGINT AS n FROM deg),
       |r0 AS (SELECT src AS node, CAST(1 AS DOUBLE) / nn.n AS rank FROM deg CROSS JOIN nn),
       |$steps
       |SELECT node, rank AS pagerank FROM r$iters""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ccf_components" ->
      s"$reachCte SELECT node, component FROM asgn",

    "ccf_components_secondary_sort" ->
      s"$reachCte SELECT node, component FROM asgn",

    "ccf_components_pj" ->
      s"$reachCte SELECT node, component FROM asgn",

    "ccf_component_count" ->
      s"$reachCte SELECT COUNT(DISTINCT component) AS n_components FROM asgn",

    // NOTE: UNION ALL + SELECT DISTINCT, not UNION — inside WITH RECURSIVE,
    // DuckDB 1.0 does not deduplicate a non-recursive UNION, which retained
    // the representative row once per member and corrupted members_csv
    // (round-1 hash_match:false; ADVICE r01). asgn's nodes are distinct and a
    // component never appears as a node (rep-has-no-row invariant), so the
    // two branches are disjoint and ALL+DISTINCT is exact.
    "ccf_membership" ->
      s"""$reachCte,
         |mem AS (
         |  SELECT component, node FROM asgn
         |  UNION ALL
         |  SELECT DISTINCT component, component FROM asgn
         |)
         |SELECT component,
         |       string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members_csv
         |FROM mem GROUP BY component""".stripMargin,

    "edge_bidirect" ->
      s"""WITH $edgesCte
         |SELECT src, dst FROM e
         |UNION ALL
         |SELECT dst AS src, src AS dst FROM e""".stripMargin,

    "min_neighbor" ->
      s"""WITH $edgesCte,
         |bi AS (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst AS a, src AS b FROM e)
         |SELECT a AS node, MIN(b) AS min_nbr FROM bi GROUP BY a""".stripMargin,

    "dedup_pairs" ->
      s"WITH $edgesCte SELECT src, dst FROM e",

    "ccf_chain" ->
      """SELECT CAST(i + 1 AS VARCHAR) AS node, '0' AS component
        |FROM range(499) t(i)""".stripMargin,

    "ccf_auto_chain" ->
      """SELECT CAST(i + 1 AS VARCHAR) AS node, '0' AS component
        |FROM range(499) t(i)""".stripMargin,

    // id-canonical 3-way join (a<b<c) — a different orientation than the
    // engine's degree order, but the triangle SET is orientation-invariant.
    "g1_triangles" ->
      s"""WITH $edgesCte,
         |tri AS (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM e e1
         |  JOIN e e2 ON e2.src = e1.dst
         |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst)
         |SELECT node, COUNT(*) AS n_triangles
         |FROM (SELECT unnest([a, b, c]) AS node FROM tri)
         |GROUP BY node""".stripMargin,

    // exact twin of the parity round: same op order, same (src, value) sorted
    // sequential fold per destination — ranks bit-identical across engines
    "g2_pagerank" -> pagerankSql(PagerankIters),

    // g3: LpaIters unrolled mode-vote rounds — same (count, -label)
    // composite argmax as the engine (row() comparison is lexicographic,
    // all integers, so parity is exact by construction)
    "g3_label_propagation" -> lpaSql(LpaIters)
  )

  private def lpaSql(iters: Int): String = {
    def round(i: Int): String =
      s"""l$i AS (
         |  SELECT node, -struct_extract(max(row(c, -lbl)), 2) AS lbl FROM (
         |    SELECT bi.b AS node, l.lbl AS lbl, COUNT(*) AS c
         |    FROM bi JOIN l${i - 1} l ON l.node = bi.a
         |    GROUP BY bi.b, l.lbl)
         |  GROUP BY node)""".stripMargin
    s"""WITH $edgesCte,
       |bi AS (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst AS a, src AS b FROM e),
       |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM bi),
       |${(1 to iters).map(round).mkString(",\n")}
       |SELECT node, lbl AS label FROM l$iters""".stripMargin
  }
}
