package graft.ccf

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import scala.collection.mutable.ArrayBuffer

/**
 * CCF (Connected Component Finder) — Spark-DataFrame-native implementation of
 * the min-label-propagation fixpoint from Kardes, Agrawal, Wang & Sun,
 * "CCF: Fast and Scalable Connected Component Computation in MapReduce"
 * (CIKM 2014), the algorithm the reference implements with grouped RDD
 * kernels (reference: `ccf_connected_components.py:44-154`,
 * `CCFConnectedComponents.scala:45-140`).
 *
 * Semantics (exactly the reference's — see SURVEY.md §1.1 / §2a):
 *  - Input: an edge list with two equally-typed, orderable columns. Node IDs may
 *    be strings (reference semantics: LEXICOGRAPHIC min — "10" < "9") or any
 *    other orderable Spark type (LongType for the TPC-H-derived graphs: numeric
 *    min). The column `<` / `min()` ordering of the input type decides the
 *    component representative.
 *  - Output: `(node, component)` where `component` is the smallest node ID in
 *    the node's connected component, and — invariant from the reference — the
 *    representative itself has NO output row (the reduce only emits pairs whose
 *    label is strictly smaller than the node, `ccf_connected_components.py:72-79`).
 *  - Convergence: iterate until an iteration produces zero "new pairs", where a
 *    new pair is an emitted `(value, min)` for a non-min neighbor `value` of a
 *    re-labeled key (`CCFConnectedComponents.scala:64-77`). The final iteration
 *    (the one that emits 0) IS counted, matching the reference's loop which
 *    increments the iteration counter before testing convergence
 *    (`CCFConnectedComponents.scala:192-224`).
 *
 * Spark-first formulation (NOT a port of the RDD kernel): instead of
 * materializing per-key neighbor lists in a grouped RDD + a handwritten
 * reducer, each round at scale is a declarative plan that Catalyst fully
 * optimizes and whole-stage-codegens (a round over fewer than
 * [[MicroFixpoint.FusedRows]] rows runs the same rule on the driver, see
 * [[run]]):
 *
 *   bi     = pairs UNION ALL swap(pairs)                    -- O2 bidirect
 *   stats  = bi GROUP BY src AGG min(dst) AS mn             -- partial+final hash agg
 *            WHERE mn < src                                 -- re-labeled keys only
 *   emit1  = (src, mn)            per re-labeled key        -- the (key, min) emit
 *   emit2  = (dst, mn)            for every neighbor dst of a re-labeled key
 *            with dst != mn       (bi JOIN stats ON src)    -- the (value, min) emits
 *   newPairs = COUNT(emit2)                                 -- deterministic counter
 *   next   = DISTINCT(emit1 UNION ALL emit2)                -- O7 CCF-Dedup
 *
 * Why this beats a literal port at scale:
 *  - `min()` is a partial (map-side) aggregate: hub vertices with millions of
 *    neighbors never materialize a neighbor list in one reducer — the exact
 *    skew weakness the reference flags (`RESULTS.md:119`) disappears for the
 *    aggregation; the remaining join skew is handled by AQE skew-join splitting.
 *  - The whole round stays inside whole-stage codegen (no opaque lambdas).
 *  - A round costs one shuffle of partial minima, plus one of `bi` when
 *    `stats` is too large to broadcast. Both union branches read `stats`
 *    through the same exchange (the join side as a reused exchange); when
 *    `stats` is broadcast, `bi` is not shuffled at all, otherwise the join
 *    is a sort-merge join with its own `bi` exchange on `src` (PlanSpec pins
 *    both shapes).
 *  - `newPairs` is a count over a materialized dataset, not an accumulator:
 *    accumulators in transformations over-count on task retry/recompute; a
 *    count is deterministic and drives convergence reproducibly.
 *
 * Per-round lineage is truncated with an eager checkpoint — without it
 * the logical plan (and analysis time) grows with the iteration count, the #1
 * DataFrame trap for iterative algorithms (SURVEY.md §7.4). The default is
 * `localCheckpoint` (speed over fault-tolerance — a lost block reruns the
 * job); on a real cluster with preemption, set `spark.graft.checkpointDir`
 * to a DFS path and every round routes through reliable `checkpoint()`
 * instead (see [[graft.Checkpoints]]; CCFSpec proves both modes converge
 * identically).
 *
 * 100 TB notes: each round shuffles O(|pairs|) rows hash-partitioned by node
 * id — the same distribution as the reference's MapReduce jobs, which the CCF
 * paper scaled to 6B nodes / 92B edges. Iteration count is O(log d) in the
 * component diameter. Round checkpoints are freed by the one free rule of
 * [[graft.Checkpoints]].
 *
 * Intermediate-data caveat (measured, intrinsic to CCF — not this port): on
 * LONG-DIAMETER graphs the per-round pair set grows ~2x per round until
 * stars collapse (each chain node's degree doubles while its running min
 * keeps improving), peaking near n x 2^rounds — a 20k-node path peaks at
 * ~40M pairs. This is why the reference benchmarks chains only to n=500.
 * Real large graphs (web/social/co-purchase) have small effective diameter
 * and collapse fast; genuinely long paths call for a pointer-jumping
 * variant, which is outside the reference's surface.
 */
object CCF {

  /** The reference's kernel label (paper Fig. 2 Basic, Fig. 3 SecondarySort;
    * identical results, reference `report.md:161`). Both labels run the one
    * kernel in both round shapes: [[iterateBasic]] in a declarative round,
    * [[MicroFixpoint.round]] in a driver round. Fig. 3's
    * secondary sort exists to bound the reducer's state, and Basic's
    * map-side partial `min` never builds a per-key neighbour list, so the
    * sort buys nothing here; the sort-based kernel lost every same-window
    * A/B once CCF-Dedup moved into the checkpoint (CHANGES.md). */
  sealed trait Variant
  case object Basic extends Variant
  case object SecondarySort extends Variant

  /** @param assignments (node, component) — representative has no row
    * @param iterations rounds run, counting the final 0-new-pair round
    * @param converged false iff maxIterations hit first
    * @param newPairsHistory newPairs per round, oldest first
    * @param engine which kernel(s) produced the result: "ccf", "pj", or
    *               "ccf+pj" ([[auto]]'s CCF rounds up to the blowup, then
    *               PointerJump restarted on the input) */
  final case class CCFResult(
      assignments: DataFrame,
      iterations: Int,
      converged: Boolean,
      newPairsHistory: Seq[Long],
      engine: String = "ccf")

  /**
   * Run CCF to convergence.
   *
   * ONE LOOP, EACH ROUND SHAPED BY ITS OBSERVED INPUT SIZE (observe-then-
   * choose, like [[auto]]'s density rule): a round whose input is below
   * [[MicroFixpoint.FusedRows]] rows runs on the driver, in memory, with no
   * plan and no job ([[MicroFixpoint]]: a primitive kernel over the keys'
   * int ranks); a larger round runs declaratively.
   * Round 1 is sized by the input: a driver-local `LocalRelation`'s length,
   * or the count observed while the input is checkpointed at entry. Measured
   * on the reference's 34-run matrix, a declarative round's planning +
   * exchange setup is ~150 ms while the data is <100k rows — two orders of
   * magnitude over the compute; the driver round won every per-round A/B up
   * to 684,715 input rows (ROADMAP item 6). At scale the declarative round
   * wins (codegen, AQE skew handling, partial aggregation) and is the engine
   * of record. Rows stay Catalyst-internal end to end: a driver-local input
   * is read from its `LocalRelation`'s rows, and a run that ends on the
   * driver returns a `LocalRelation` of internal rows, which
   * [[componentCount]] counts in place. So each of the reference matrix's
   * fixpoints and its component count start no job and no Catalyst action
   * from a driver-local input. Between driver rounds the driver holds 8
   * bytes per pair, below [[MicroFixpoint.FusedRows]] pairs, plus one
   * dictionary of the run's keys.
   *
   * Hand-offs (see [[runSwitchable]]): driver → declarative decodes the
   * deduplicated ranks into an RDD-backed frame with exact row stats;
   * declarative → driver collects the round's checkpoint (one job), frees
   * it and encodes its rows. Checkpoints follow
   * the free rule of [[graft.Checkpoints]].
   *
   * Declarative round: ONE action — the round's tagged emits are
   * deduplicated and eagerly `localCheckpoint`'ed (truncating lineage), and
   * the NewPair counter rides that same materialization as an observed
   * metric (`Dataset.observe` — computed task-side during the checkpoint
   * job, delivered with its completion event), instead of a second count()
   * action. The CCF-Dedup `distinct` sits above the observe, so the counter
   * sees pre-dedup emits, and the next round reads the deduped blocks.
   * Lineage depth stays O(1).
   *
   * The result's schema is the same for every round shape and round count:
   * (node, component), both of the key type, both nullable.
   *
   * @param edges two-column DataFrame (src, dst); any orderable column type,
   *              both columns the same type. Column names are irrelevant.
   * @param variant the reference's kernel label; both labels run the same
   *                kernel (see [[Variant]])
   */
  def run(edges: DataFrame, variant: Variant = Basic, maxIterations: Int = 100): CCFResult =
    runSwitchable(edges, maxIterations, armed = false) match {
      case Left(r) => r
      case Right(_) => throw new IllegalStateException("unreachable: blowup switch disabled")
    }

  /** [[auto]]'s blowup detector fires after 2 consecutive CCF rounds emit
    * more than this many times the input's pairs. */
  private[ccf] val BlowupFactor = 8L

  /** [[auto]] sends graphs whose estimated mean degree exceeds this straight
    * to [[PointerJump]]. */
  private val DenseDegree = 16.0

  /**
   * Engine auto-selection (VERDICT r05 #4): run [[CCF]] — the right engine for
   * the short-effective-diameter graphs real corpora produce — but watch the
   * per-round OBSERVED pair count the loop already collects, and when it
   * exceeds [[BlowupFactor]] x the input for 2 consecutive rounds (the
   * long-diameter doubling signature from the class scaladoc), abandon the
   * edge-rewriting fixpoint and restart with [[PointerJump]] on the INPUT
   * edges, which the loop materialized once at entry. The caller never has
   * to know which shape their graph is. Both engines answer from the input,
   * so the result is the one [[PointerJump.run]] gives; PointerJump's rounds
   * cost O(|E| + |V|), so they are cheaper on the input than on a pair set
   * already past 8x of it.
   *
   * Iterations/history report the CCF rounds run plus PointerJump's rounds
   * (its changed-label counts), oldest first. The cap wins over a switch: a
   * switch fires only while rounds are left, so a run capped at the switch
   * round ends as [[run]]'s capped result does.
   *
   * Second rule, decided UP FRONT: DENSE graphs (mean degree >
   * [[DenseDegree]]) go straight to [[PointerJump]]. CCF's re-emit step
   * multiplies every re-labeled key's full neighborhood each round — on the
   * sf0.1 co-purchase graph (20k nodes, 1.2M edges, degree ~120) round 2
   * alone emits 3.9M pairs and CCF runs 2.5x slower than the n-row label
   * table (BENCH_NOTES r06). The density estimate is one pass over the edge
   * list with sketch cardinality (approx_count_distinct, ±5%) — a 16x
   * threshold needs no better — and at 100 TB that pass is a map-side
   * partial aggregate, not a shuffle of the key space. The blowup detector
   * would catch this case only after the amplified rounds it exists to avoid.
   *
   * 100 TB notes: the runtime detector costs nothing (the row count is
   * already an observed metric of the round's checkpoint job) and triggers
   * before the exponential rounds dominate — a doubling graph runs ~5 cheap
   * CCF rounds before the restart, while a web/social-shaped graph (pair
   * sets peak ~2-3x input) never switches and keeps CCF's cheaper rounds.
   */
  def auto(edges: DataFrame, maxIterations: Int = 100): CCFResult = {
    require(edges.columns.length == 2,
      s"edge list must have 2 columns, got ${edges.columns.mkString(", ")}")
    val Array(a, b) = edges.columns
    val est = edges.agg(count(lit(1)).as("m"),
      approx_count_distinct(col(a), 0.05).as("na"),
      approx_count_distinct(col(b), 0.05).as("nb")).head()
    val m = est.getLong(0)
    // |V| >= max(nd(a), nd(b)); mean degree 2|E|/|V| <= 2m/max — an upper
    // bound tight enough for a 16x threshold (exact |V| needs the union)
    val nV = math.max(1L, math.max(est.getLong(1), est.getLong(2)))
    if (m > 0 && 2.0 * m / nV > DenseDegree)
      return PointerJump.run(edges, maxIterations)
    runSwitchable(edges, maxIterations, armed = true) match {
      case Left(r) => r
      case Right(sw) =>
        val pj = PointerJump.run(sw.input, maxIterations - sw.iterations)
        // PointerJump has eagerly materialized its own topology checkpoint.
        // A driver-local input has no checkpoint leaf, so this frees only
        // the input checkpoint runSwitchable made.
        Checkpoints.free(sw.input)
        CCFResult(pj.assignments, sw.iterations + pj.iterations, pj.converged,
          sw.history ++ pj.newPairsHistory, engine = "ccf+pj")
    }
  }

  /** Hand-off state when [[auto]]'s blowup detector fires: the input as
    * materialized at entry (its checkpoint, or the driver-local relation;
    * the caller frees it once done), and the CCF rounds/history so far. */
  private[ccf] final case class Switched(input: DataFrame, iterations: Int, history: Seq[Long])

  /** The CCF fixpoint: one loop, one round per step, each round shaped by
    * the observed row count of its input (round 1: the input's). Below
    * [[MicroFixpoint.FusedRows]] the round runs on the driver
    * ([[MicroFixpoint.round]] over int ranks); otherwise it runs
    * declaratively ([[declarativeRound]]). Key types without a driver kernel,
    * and sessions with reliable checkpoints (`spark.graft.checkpointDir`: a
    * preemptible cluster, where each round's DFS checkpoint is the point),
    * run every round declaratively. `armed` runs [[auto]]'s blowup detector,
    * which ends the run with Right(Switched) when it fires.
    *
    * A pair set that comes onto the driver is encoded in a
    * [[MicroFixpoint.Dictionary]] of its keys, which serves every driver
    * round after it: CCF never creates a node, so a round's pairs are a
    * subset of its input's nodes. Hand-offs:
    *  - driver → declarative: the driver round's emits have src > dst, so
    *    their pair-distinct is the CCF-Dedup the declarative round expects;
    *    the ranks are decoded and `parallelize`d with exact stats
    *    (`Bridge.parallelize`, the frame [[PointerJump.run]] reads a
    *    driver-local input through);
    *  - declarative → driver: the round's checkpoint is collected once as
    *    internal rows, freed, and encoded in a dictionary of its own keys
    *    (a subset of the run's). */
  private def runSwitchable(edges: DataFrame, maxIterations: Int,
                            armed: Boolean): Either[CCFResult, Switched] = {
    require(edges.columns.length == 2, s"edge list must have 2 columns, got ${edges.columns.length}")
    val spark = edges.sparkSession
    val inputDF = edges.toDF("src", "dst")
    val keyType = inputDF.schema.fields(0).dataType
    // One schema for every round shape and round count: both columns of the
    // key type, both nullable (a declarative round's min is a nullable
    // aggregate; the rounds after it read it through a bidirect union).
    def schemaOf(a: String, b: String) =
      StructType(Seq(StructField(a, keyType), StructField(b, keyType)))

    // The pair set between rounds: `frame` ahead of a declarative round,
    // `local` (ranks in `dict`) ahead of a driver round; one is null.
    var frame: DataFrame = null
    var local: MicroFixpoint.Pairs = null
    var dict: MicroFixpoint.Dictionary = null // the keys of `local`'s ranks
    var ckpt: DataFrame = null // the checkpoint behind `frame`, if this loop made one
    val reliableCkpt = spark.conf.getOption(Checkpoints.DirKey).exists(_.nonEmpty)
    def onDriver(rows: Long) =
      !reliableCkpt && MicroFixpoint.hasKernel(keyType) && rows < MicroFixpoint.FusedRows
    def encode(rows: Seq[InternalRow]): Unit = {
      val (d, p) = MicroFixpoint.encode(keyType, rows)
      dict = d
      local = p
    }
    // A driver-local input is read from its `LocalRelation` in place (no
    // job, no action; its row count is known): encoded for a driver round 1,
    // or handed to a declarative round 1 as an RDD-backed frame with the
    // input's raw multiplicity, never as the `LocalRelation` itself. Any
    // other plan (scans, joins, prior fixpoint outputs) is checkpointed once,
    // and its row count rides that job as an observed metric.
    val (input, nInput) = inputDF.queryExecution.optimizedPlan match {
      case lr: LocalRelation =>
        if (onDriver(lr.data.length)) encode(lr.data)
        else frame = Bridge.parallelize(spark, schemaOf("src", "dst"), lr.data)
        (inputDF, lr.data.length.toLong)
      case _ =>
        val m = Checkpoints.materialize(inputDF, "ccf input")()
        frame = m.df
        ckpt = frame
        (frame, m.rows)
    }
    // Armed, the input checkpoint outlives the rounds: a switch restarts on it.
    val kept = if (armed) ckpt else null
    // Free the checkpoint behind `frame` once no round reads it.
    def release(): Unit = {
      if (ckpt != null && (ckpt ne kept)) Checkpoints.free(ckpt)
      ckpt = null
    }

    var inputRows = nInput
    var progress = MicroFixpoint.Progress.start(maxIterations, armed, nInput)
    val history = ArrayBuffer.empty[Long]
    while (!progress.done) {
      val (newPairs, rows) =
        if (onDriver(inputRows)) {
          if (local == null) {
            // declarative -> driver: one collect, encoded in its own keys
            encode(Bridge.collectInternal(frame).toSeq)
            release()
            frame = null
          }
          val (next, n) = MicroFixpoint.round(local, dict.size, dedup = progress.iterations > 0)
          local = next
          inputRows = next.size.toLong
          (n, inputRows)
        } else {
          if (frame == null) {
            // driver -> declarative: the driver round's emits, deduplicated
            frame = Bridge.parallelize(spark, schemaOf("src", "dst"),
              dict.decode(MicroFixpoint.distinct(local)))
            local = null
          }
          val round = declarativeRound(frame, progress.iterations + 1)
          release()
          frame = round.df
          ckpt = frame
          inputRows = round.rows
          (round.metrics("newPairs"), round.metrics("emitted"))
        }
      history += newPairs
      progress = progress.after(newPairs, rows)
    }
    if (progress.switched) {
      release()
      return Right(Switched(input, progress.iterations, history.toSeq))
    }
    if (kept != null && (ckpt ne kept)) Checkpoints.free(kept)
    // A run capped before convergence keeps pre-dedup driver rows: dedup them.
    val assignments =
      if (local != null)
        Bridge.localFrame(spark, schemaOf("node", "component"),
          dict.decode(if (progress.converged) local else MicroFixpoint.distinct(local)))
      else {
        def nullable(c: String) = Bridge.column(KnownNullable(Bridge.expression(col(c))))
        frame.select(nullable("src").as("node"), nullable("dst").as("component"))
      }
    Left(CCFResult(assignments, progress.iterations, progress.converged, history.toSeq))
  }

  /** One declarative round over `pairs`, materialized in ONE action
    * ([[Checkpoints.materialize]]): the round's tagged emits are
    * deduplicated and eagerly checkpointed (truncating lineage), and the
    * NewPair counter, the emitted rows and the deduped rows ride that
    * action as observed metrics ("newPairs", "emitted", "rows"). The caller
    * frees `pairs`' checkpoint only after this returns: a metrics fallback
    * recomputes the round over it. */
  private def declarativeRound(pairs: DataFrame, iteration: Int): Checkpoints.Materialized = {
    // tagged = (src, dst, isNew); isNew marks the (value, min) emits that the
    // reference counts in its NewPair counter.
    val tagged = iterateBasic(pairs)
    // CCF-Dedup placement (r18, guide §2.4/§7.2): the distinct used to
    // stay LAZY and fuse into the NEXT round's plan — but bidirect unions
    // two branches over it, so the dedup's final
    // HashAggregate executed TWICE per round over the full pre-dedup emit
    // set (the exchange is reused, the aggregate above it is not; measured
    // at sf0.1 co-purchase: round 3 re-aggregates round 2's 3.88M-row
    // checkpoint in both branches). Folding the distinct INTO the
    // checkpoint job dedups once, materializes the (often far smaller)
    // deduped set with 2 columns instead of 3, and next round's bidirect
    // reads materialized blocks directly. newPairs semantics unchanged:
    // the counters sit BELOW the distinct, so they still count pre-dedup
    // per-occurrence emits exactly like the reference's reduce-side
    // counter (iteration parity with the reference CSV is re-verified in
    // the Experiments matrix). The row count above the distinct is the
    // DEDUPED one the checkpoint holds and is stamped with (r19, ADVICE
    // r18); pre-dedup "emitted" feeds the blowup detector.
    Checkpoints.materialize(tagged, s"ccf round $iteration",
        coalesce(sum(when(col("isNew"), 1L)), lit(0L)).as("newPairs"),
        count(lit(1)).as("emitted"))(
      // the checkpoint no longer carries isNew: recompute the round's TAGGED
      // plan (pre-dedup) over `pairs`; loud + one extra job
      fallback = _ => Map("newPairs" -> tagged.where(col("isNew")).count(),
        "emitted" -> tagged.count()),
      finish = _.select("src", "dst").distinct())
  }

  /** One CCF-Iterate round, Basic kernel (paper Fig. 2; reference
    * `CCFConnectedComponents.scala:45-81`) as a declarative plan.
    * Returns (src, dst, isNew) rows, pre-dedup.
    *
    * Join strategy for the re-emit join (bi ⋈ stats on src) is left to the
    * planner: at scale, AQE picks from observed sizes (stats is bounded by
    * the node count — broadcast only if it truly fits). */
  private[graft] def iterateBasic(pairs: DataFrame): DataFrame = {
    val bi = bidirect(pairs)
    val stats = bi.groupBy("src").agg(min("dst").as("mn")).where(col("mn") < col("src"))
    val emit1 = stats.select(col("src"), col("mn").as("dst"), lit(false).as("isNew"))
    val emit2 = bi
      .join(stats, "src")
      .where(col("dst") =!= col("mn"))
      .select(col("dst").as("src"), col("mn").as("dst"), lit(true).as("isNew"))
    emit1.unionAll(emit2)
  }

  /** O2: emit both orientations of every pair (UNION ALL keeps multiplicity,
    * matching the reference's flatMap double-emit). */
  def bidirect(pairs: DataFrame): DataFrame = {
    val Array(a, b) = pairs.columns
    pairs.toDF("src", "dst")
      .unionAll(pairs.select(col(b).as("src"), col(a).as("dst")))
  }

  /** O10: number of components = distinct component labels in the converged
    * assignment (reference `ccf_experiments.py:137`). A result whose
    * analyzed plan is a driver-local `LocalRelation` (a run whose last round
    * ran on the driver, see [[run]]) is counted over the relation's own
    * Catalyst rows: no plan to optimize, no action, no job. Any other result
    * keeps `distinct().count()`, which plans an aggregate and runs jobs, over
    * a `LocalRelation` too. */
  def componentCount(assignments: DataFrame): Long =
    assignments.queryExecution.analyzed match {
      case lr: LocalRelation if lr.output.exists(_.name == "component") =>
        val c = lr.output.indexWhere(_.name == "component")
        val labels = new java.util.HashSet[Any]()
        lr.data.foreach(r => labels.add(r.get(c, lr.output(c).dataType)))
        labels.size.toLong
      case _ => assignments.select("component").distinct().count()
    }

  /** O11: component → sorted member list, re-adding the representative (which
    * has no assignment row) — reference `CCFConnectedComponents.scala:287-295`. */
  def membership(assignments: DataFrame): DataFrame =
    assignments
      .groupBy("component")
      .agg(sort_array(array_union(collect_set(col("node")), array(col("component")))).as("members"))
}
