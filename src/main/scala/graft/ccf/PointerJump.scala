package graft.ccf

import graft.Checkpoints
import graft.Checkpoints.EagerOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/**
 * Pointer-jumping connected components — the long-diameter complement to
 * [[CCF]], outside the reference's surface (SURVEY.md §2c; VERDICT r02 gap #3).
 *
 * CCF rewrites the EDGE SET each round: on long-diameter graphs the
 * intermediate pair set doubles per round until stars collapse, peaking near
 * n x 2^rounds (`CCF` scaladoc caveat — a 20k-node path peaks at ~40M pairs).
 * This variant instead keeps the topology STATIC and iterates a per-node
 * LABEL TABLE (exactly n rows, forever):
 *
 *   init       lab(u) = min(u, min neighbors(u))
 *   per round  new(u)  = min over t in N(u) ∪ {lab(u), u} of lab(t)
 *              -- neighbor-min AND the pointer jump lab(lab(u)), one join
 *              lab'(m) = min(new(m), min over u with lab(u) = m of new(u))
 *              -- the hook: a label takes the best its members found
 *   stop when no label changed (observed metric, same one-job-per-round
 *   shape as CCF.run).
 *
 * Neighbor-min alone is hash-to-min (O(diameter) rounds); the lab(lab(u))
 * term is path-halving — it doubles the effective propagation distance per
 * round, giving O(log d)-ish convergence with per-round work bounded by
 * O(|E| + |V|) — no intermediate blowup, the standard trade (pointer
 * jumping, cf. the "Connected Components in MapReduce and Beyond" family).
 * The jump moves labels down from a label's node; the hook moves them up.
 * Without it a local minimum ("10000" on a string-keyed chain) learns a
 * smaller label only hop by hop through its neighbours: the 20k-node
 * string chain took 32 rounds, and takes 16 with it.
 * The price vs CCF: a per-round join of the label table against the static
 * bidirected edge set, which CCF's self-rewriting pair set avoids on
 * SHORT-diameter graphs. Use CCF for web/social-shaped graphs, this for
 * paths/meshes/grid-shaped ones.
 *
 * Semantics match [[CCF.run]] exactly: any orderable key type, lexicographic
 * minima for strings, representative has no output row. Fixpoint correctness:
 * labels only decrease and stay within the component (a hooked label is
 * the new label of a node labelled m, so it lies in m's component); at a
 * fixpoint the neighbor-min condition forces lab constant across every
 * edge, and the component minimum m keeps lab(m) = m throughout, so the
 * constant is m.
 *
 * One round body at every size: the neighbor-min rides a src-partitioned
 * topology, and the lab(u) and lab(lab(u)) terms are lookups into the label
 * table ([[round]]). How that table travels is a join hint, not a second
 * body: while its bytes (observed rows × row width) are within the byte
 * budget it broadcasts ([[graft.Checkpoints.broadcastWithinBudget]]), and
 * past it the same body plans shuffled joins. The label table is n rows
 * regardless of round; the static bidirected edge set is checkpointed once
 * and re-read each round (on a cluster: reliable-checkpoint / cache it).
 * newPairsHistory reports the per-round CHANGED-LABEL count (this algorithm
 * has no NewPair notion; the count is 0 exactly at convergence, same
 * contract).
 */
object PointerJump {

  /** One round (r18): lab'(u) = least(lab(u), lab(lab(u)), min over N(u)
    * of lab(t)), split into its neighbor-min and jump terms. nm rides the
    * topology's src partitioning (zero edge exchanges when the label table
    * broadcasts — plan-pinned in PlanSpec), and both the lab(u) and
    * lab(lab(u)) terms are lookups INTO the same n-row label table `lt`
    * (_t, _tl), not a second table. `lt` carries its caller's join hint,
    * which its projections here keep: broadcast, every lookup is row-local
    * and one n-row table per round transits the driver (16 B per node with
    * long keys: 32M nodes at the default 512 MB); unhinted, the planner
    * shuffles the joins. Inner joins stay total: every node appears as src
    * in the bidirected frame, and every lab is a node id. */
  private[graft] def round(topology: DataFrame, lt: DataFrame): DataFrame = {
    val nm = topology.join(lt, col("dst") === col("_t"))
      .groupBy(col("src")).agg(min(col("_tl")).as("nm"))
    val lt1 = lt.select(col("_t").as("_t1"), col("_tl").as("_tl1"))
    val lt2 = lt.select(col("_t").as("_t2"), col("_tl").as("_tl2"))
    nm.join(lt1, col("src") === col("_t1")) // _tl1 = lab(u)
      .join(lt2, col("_tl1") === col("_t2")) // _tl2 = lab(lab(u))
      .select(col("src").as("node"), col("_tl1").as("lab"),
        least(col("_tl1"), col("_tl2"), col("nm")).as("newlab"))
  }

  /** The hook over a round's (node, lab, newlab) frame: each label m also
    * takes the smallest new label among the nodes labelled m. The round is
    * read ONCE: each row offers its new label to its own node (with its old
    * label) and to its label m (with none), and one aggregate keyed by node
    * takes both minima. Every lab is a node id, so the aggregate yields
    * exactly one row per node; it shuffles at most 2n label rows, combined
    * map-side, and never the edges. */
  private def hooked(round: DataFrame): DataFrame = {
    val noLab = lit(null).cast(round.schema("lab").dataType)
    round.select(explode(array(
        struct(col("node").as("k"), col("lab").as("l"), col("newlab").as("v")),
        struct(col("lab").as("k"), noLab.as("l"), col("newlab").as("v")))).as("o"))
      .groupBy(col("o.k").as("node"))
      .agg(min(col("o.l")).as("lab"), min(col("o.v")).as("newlab"))
  }

  /** Runs the label fixpoint. Rounds and their checkpoints go through
    * [[graft.Checkpoints.fixpoint]], which frees them by its one rule. */
  def run(edges: DataFrame, maxIterations: Int = 100): CCF.CCFResult = {
    require(edges.columns.length == 2, s"edge list must have 2 columns, got ${edges.columns.length}")
    val spark = edges.sparkSession
    // A driver-local input moves to an RDD-backed frame with exact stats, the
    // frame CCF hands its driver rows over in: Catalyst spends seconds
    // planning the bidirect + distinct over a large `LocalRelation`.
    val named = edges.toDF("src", "dst")
    val input = named.queryExecution.optimizedPlan match {
      case lr: LocalRelation => Bridge.parallelize(spark, lr.schema, lr.data)
      case _ => named
    }

    // Static topology: canonical bidirected distinct edges, materialized once
    // with exact stats (estimates otherwise compound through the per-round
    // joins, Bridge.withStats).
    val bi = Checkpoints.materialize(CCF.bidirect(input).distinct(), "pj bidirect")()
    // the label table is exactly one row per node, every round
    val init = Checkpoints.materialize(bi.df.groupBy(col("src").as("node"))
      .agg(least(col("src"), min(col("dst"))).as("lab")), "pj labels")()

    // r18 (guide §2.4): the rounds' only edge-sized frame is the STATIC
    // topology — partition it by src ONCE (checkpoint preserving the layout)
    // and the neighbor-min groupBy(src) rides that layout in every round.
    // The rounds inherit the repartition's partition count, so it is sized
    // here: ~100k pairs per partition, at most the session's count — a
    // small graph runs each round as one task at any cpu count.
    val parts = math.min(spark.conf.get("spark.sql.shuffle.partitions").toLong,
      bi.rows / 100000L + 1L).toInt
    val topology = Bridge.withStats(
      bi.df.repartition(parts, col("src")).eagerCheckpointKeepPartitioning(), bi.rows)
    Checkpoints.free(bi.df)

    val fix = Checkpoints.fixpoint(init.df, maxIterations, until = Some("changed"),
        ownsStart = true) { (lbl, iteration) =>
      // the label table is n rows in every round; its bytes pick the hint
      val lt = Checkpoints.broadcastWithinBudget(
        lbl.select(col("node").as("_t"), col("lab").as("_tl")), init.rows)
      Checkpoints.materialize(hooked(round(topology, lt)), s"pj round $iteration",
          coalesce(sum(when(col("newlab") =!= col("lab"), 1L)), lit(0L)).as("changed"))(
        // the fallback diffs the new checkpoint against the previous label
        // table, which the loop frees only after this returns
        fallback = next => Map("changed" -> next.select(col("node"), col("lab").as("nl"))
          .join(lbl.select(col("node"), col("lab").as("ol")), "node")
          .where(col("nl") =!= col("ol")).count()),
        finish = _.select(col("node"), col("newlab").as("lab")))
    }
    Checkpoints.free(topology)

    val assignments = fix.result.where(col("lab") =!= col("node"))
      .select(col("node"), col("lab").as("component"))
    CCF.CCFResult(assignments, fix.rounds, fix.converged, fix.history, engine = "pj")
  }
}
