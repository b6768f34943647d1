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
 * Round shapes: while the label table's bytes (observed rows × row width)
 * are within [[graft.Checkpoints.broadcastable]]'s budget, a round
 * broadcasts the label table over a src-partitioned topology
 * ([[bcastRound]]); past it, both joins hash-partition by node id. The label
 * table is n rows regardless of round; the static bidirected edge set is
 * checkpointed once and re-read each round (on a cluster:
 * reliable-checkpoint / cache it).
 * newPairsHistory reports the per-round CHANGED-LABEL count (this algorithm
 * has no NewPair notion; the count is 0 exactly at convergence, same
 * contract).
 */
object PointerJump {

  /** One broadcast-label round (r18): lab'(u) = least(lab(u), lab(lab(u)),
    * min over N(u) of lab(t)) — the same update as the shuffled
    * unioned-targets join, split into its neighbor-min and jump terms so
    * the edge stream never shuffles: nm rides `biRounds`' src partitioning
    * (zero exchanges when the build repartitioned by src — plan-pinned in
    * PlanSpec), and both the lab(u) and lab(lab(u)) terms are row-local
    * broadcast lookups INTO the same n-row label table. Inner joins stay
    * total: every node appears as src in the bidirected frame, and every
    * lab is a node id. The only broadcast payload is the label table (the
    * jump is a second lookup into it, not a second table): one n-row table
    * per round transits the driver, and [[run]] takes this round only while
    * that table is within [[graft.Checkpoints.broadcastable]]'s byte budget
    * (16 B per node with long keys: 32M nodes at the default 512 MB). */
  private[graft] def bcastRound(biRounds: DataFrame, lt: DataFrame): DataFrame = {
    val nm = biRounds.join(broadcast(lt), col("dst") === col("_t"))
      .groupBy(col("src")).agg(min(col("_tl")).as("nm"))
    val lt1 = lt.select(col("_t").as("_t1"), col("_tl").as("_tl1"))
    val lt2 = lt.select(col("_t").as("_t2"), col("_tl").as("_tl2"))
    nm.join(broadcast(lt1), col("src") === col("_t1")) // _tl1 = lab(u)
      .join(broadcast(lt2), col("_tl1") === col("_t2")) // _tl2 = lab(lab(u))
      .select(col("src").as("node"), col("_tl1").as("lab"),
        least(col("_tl1"), col("_tl2"), col("nm")).as("newlab"))
  }

  /** The hook over a round's (node, lab, newlab) frame: each label m also
    * takes the smallest new label among the nodes labelled m. The round is
    * planned twice; the hook's aggregate shuffles at most n label rows. */
  private def hooked(round: DataFrame): DataFrame = {
    val hooks = round.groupBy(col("lab").as("_m")).agg(min(col("newlab")).as("_hk"))
    round.join(hooks, col("node") === col("_m"), "left")
      .select(col("node"), col("lab"), least(col("newlab"), col("_hk")).as("newlab"))
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
    val lbl = Checkpoints.materialize(bi.df.groupBy(col("src").as("node"))
      .agg(least(col("src"), min(col("dst"))).as("lab")), "pj labels")()

    // r18 (guide §2.4): with the label table within the broadcast budget,
    // the rounds' only distributed frame is the STATIC topology — partition
    // it by src ONCE (checkpoint preserving the layout) and no round shuffles
    // the edges: the neighbor-min groupBy(src) rides the build
    // partitioning, the label lookup and the n-row jump table are
    // broadcasts (the hook shuffles only label rows). Past the budget the
    // rounds keep the shuffled-join shape and bi keeps the distinct()'s
    // layout (a src repartition would be a wasted extra shuffle there — the
    // shuffled round joins by dst). The budget is in bytes, so a
    // string-keyed table (40 B per node) crosses it at fewer nodes than a
    // long-keyed one (16 B). The rounds inherit the repartition's partition
    // count, so it is sized here: ~100k pairs per partition, at most the
    // session's count — a small graph runs each round as one task at any
    // cpu count.
    val bcastLbl = Checkpoints.broadcastable(lbl.df, lbl.rows)
    val biRounds =
      if (bcastLbl) {
        val parts = math.min(spark.conf.get("spark.sql.shuffle.partitions").toLong,
          bi.rows / 100000L + 1L).toInt
        val b = bi.df.repartition(parts, col("src")).eagerCheckpointKeepPartitioning()
        Checkpoints.free(bi.df)
        Bridge.withStats(b, bi.rows)
      } else bi.df

    val fix = Checkpoints.fixpoint(lbl.df, maxIterations, until = Some("changed"),
        ownsStart = true) { (lbl, iteration) =>
      val lt = lbl.select(col("node").as("_t"), col("lab").as("_tl"))
      val round = hooked(if (bcastLbl) {
        bcastRound(biRounds, lt)
      } else {
        // ONE lookup join serves both steps: look up the labels of
        // N(u) ∪ {lab(u)} — the neighbor-min AND the pointer jump
        // (lab(lab(u))) — then take the running min. Fixpoint condition is
        // identical to applying the two steps separately: lab(u) ≤ lab(v)
        // for every neighbor v and lab(u) ≤ lab(lab(u)).
        val targets = biRounds.unionAll(
          lbl.select(col("node").as("src"), col("lab").as("dst")))
        // inner joins are total: every target is a node id, every node has a row
        val looked = targets.join(lt, col("dst") === col("_t"))
          .groupBy(col("src"))
          .agg(min(col("_tl")).as("nm"))
        lbl.join(looked, col("node") === col("src"))
          .select(col("node"), col("lab"), least(col("lab"), col("nm")).as("newlab"))
      })
      Checkpoints.materialize(round, s"pj round $iteration",
          coalesce(sum(when(col("newlab") =!= col("lab"), 1L)), lit(0L)).as("changed"))(
        // the fallback diffs the new checkpoint against the previous label
        // table, which the loop frees only after this returns
        fallback = next => Map("changed" -> next.select(col("node"), col("lab").as("nl"))
          .join(lbl.select(col("node"), col("lab").as("ol")), "node")
          .where(col("nl") =!= col("ol")).count()),
        finish = _.select(col("node"), col("newlab").as("lab")))
    }
    Checkpoints.free(biRounds) // the live topology checkpoint (bi itself off the bcast path)

    val assignments = fix.result.where(col("lab") =!= col("node"))
      .select(col("node"), col("lab").as("component"))
    CCF.CCFResult(assignments, fix.rounds, fix.converged, fix.history, engine = "pj")
  }
}
