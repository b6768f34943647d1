package graft

import org.apache.spark.sql.DataFrame

/**
 * Central eager-materialization point for every fixpoint round and memoized
 * shared build (CCF/PointerJump rounds, SessionCache entries, staged TF-IDF
 * tables, incremental-dedup batches).
 *
 * Default is `localCheckpoint(eager = true)`: blocks live on executors —
 * fastest, but a lost executor loses its blocks and the job must rerun
 * (acceptable for iterative refinement on a healthy cluster, and the only
 * option on `local[*]`).
 *
 * For real clusters with preemption/autoscaling, set the session conf
 * [[Checkpoints.DirKey]] (`spark.graft.checkpointDir`) to a DFS path:
 * every site here then routes through reliable `checkpoint()` instead, whose
 * files survive executor loss. The flag also wires
 * `spark.sparkContext.setCheckpointDir` on first use if unset.
 *
 * Freeing: [[graft.ccf.CCF.freeCheckpoint]] unpersists executor blocks —
 * for reliable checkpoints that is a no-op on the DFS files, which are
 * reclaimed by `spark.cleaner.referenceTracking.cleanCheckpoints=true` or a
 * dir-level TTL sweep; peak DFS usage for a fixpoint is ~2 rounds of pairs.
 */
object Checkpoints {

  /** Session conf key: when set (non-empty), eager materializations use
    * reliable `checkpoint()` into this directory instead of
    * `localCheckpoint()`. */
  val DirKey = "spark.graft.checkpointDir"

  /** Eagerly materialize `df` and truncate its lineage — local by default,
    * reliable when [[DirKey]] is set on the session. */
  def eager(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // respect an explicitly-set context dir; otherwise wire the flag's
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None =>
        df.localCheckpoint(eager = true)
    }
  }

  /** Eager checkpoint that PRESERVES the plan's output partitioning in the
    * resulting LogicalRDD (r18, guide §2.4). Under AQE, a checkpoint
    * records `UnknownPartitioning` — `AdaptiveSparkPlanExec`'s partitioning
    * is not final at checkpoint time — so a build that ends in
    * `repartition(key)` would lose its layout and every consumer keyed the
    * same way would re-shuffle (probe in BENCH_NOTES r18). The
    * materialization therefore runs on a private session clone with AQE
    * off ([[org.apache.spark.sql.graft.Bridge.materializeWithoutAqe]]), and
    * the LogicalRDD, which then keeps the HashPartitioning Spark recorded,
    * is rebound to the caller's session, whose conf is never written.
    * Use for builds whose final operator establishes a partitioning that
    * downstream plans are meant to reuse. */
  def eagerKeepPartitioning(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.materializeWithoutAqe(df)(eager)

  /** Postfix syntax so call sites read like the `localCheckpoint` they
    * replace: `df.eagerCheckpoint()`. */
  implicit final class EagerOps(private val df: DataFrame) extends AnyVal {
    def eagerCheckpoint(): DataFrame = Checkpoints.eager(df)
    def eagerCheckpointKeepPartitioning(): DataFrame =
      Checkpoints.eagerKeepPartitioning(df)
  }
}
