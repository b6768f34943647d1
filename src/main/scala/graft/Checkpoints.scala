package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{broadcast, count, lit}
import org.apache.spark.sql.graft.Bridge

/**
 * Central eager-materialization point for every fixpoint round and memoized
 * shared build (CCF/PointerJump/LPA/PageRank/Lloyd rounds, SessionCache
 * entries, staged TF-IDF tables, incremental-dedup batches), and the one
 * round skeleton of the label fixpoints: [[materialize]], [[free]] and
 * [[fixpoint]]. The row counts those rounds observe also pick their join
 * hints, against one byte budget: every size-gated broadcast of a graph
 * table takes its hint from [[broadcastWithinBudget]], so the budget picks
 * how a table travels (broadcast or shuffle), never which code path runs.
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
 * The free rule, the one every fixpoint follows: a round's input checkpoint
 * is freed once the round's own metrics have been read — a metrics fallback
 * re-reads that input, so it lives until then, and nothing reads it after.
 * A fixpoint therefore holds at most two round checkpoints at a time. Only a
 * checkpoint the fixpoint made is freed, never a frame its caller passed
 * in. [[free]] unpersists executor blocks; for reliable checkpoints the DFS
 * files are reclaimed by `spark.cleaner.referenceTracking.cleanCheckpoints=true`
 * or a dir-level TTL sweep.
 */
object Checkpoints {

  /** Session conf key: when set (non-empty), eager materializations use
    * reliable `checkpoint()` into this directory instead of
    * `localCheckpoint()`. */
  val DirKey = "spark.graft.checkpointDir"

  /** Session conf key overriding [[BroadcastBudget]] with a non-negative
    * byte count; 0 drops every broadcast hint on a graph table (Spark's own
    * `spark.sql.autoBroadcastJoinThreshold` still applies to the plan). */
  val BroadcastBudgetKey = "spark.graft.broadcastBudgetBytes"

  /** The byte budget of one broadcast graph table: 512 MB, g1's packed
    * closing edge list at 64M edges (8 B per row). A broadcast table is held
    * whole on the driver and on every executor. */
  val BroadcastBudget = 512L * 1000 * 1000

  /** Whether a table of `rows` observed rows of `df`'s schema may be
    * broadcast: its bytes, `rows` × the schema's `defaultSize` (Spark's
    * row-width estimate), are within the session's budget. The one test of
    * the rule; callers take its answer as a hint ([[broadcastWithinBudget]]). */
  def broadcastable(df: DataFrame, rows: Long): Boolean = {
    val budget = df.sparkSession.conf.getOption(BroadcastBudgetKey).fold(BroadcastBudget) { v =>
      v.trim.toLongOption.filter(_ >= 0L).getOrElse(throw new IllegalArgumentException(
        s"$BroadcastBudgetKey must be a non-negative number of bytes, got '$v'"))
    }
    rows * df.schema.defaultSize <= budget
  }

  /** `df` with a broadcast hint while [[broadcastable]] holds for `rows`,
    * `df` itself past the budget, where the planner shuffles the join. Every
    * size-gated broadcast of a graph table (PointerJump's labels, g1's wedge
    * build and closing edge list, g2's ranks and degrees, g3's labels) takes
    * its hint here, so one budget bounds them in bytes whatever the key
    * width, and one plan serves both sides of it. The hint survives
    * projections over the returned frame (Spark pulls it through unary
    * operators up to the join). */
  def broadcastWithinBudget(df: DataFrame, rows: Long): DataFrame =
    if (broadcastable(df, rows)) broadcast(df) else df

  /** The row count a [[materialize]]d frame carries in its exact stats (a
    * cached copy of one keeps them), so reading it starts no job; any other
    * frame is counted. */
  def observedRows(df: DataFrame): Long =
    df.queryExecution.analyzed.stats.rowCount.fold(df.count())(_.toLong)

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
    Bridge.materializeWithoutAqe(df)(eager)

  /** Postfix syntax so call sites read like the `localCheckpoint` they
    * replace: `df.eagerCheckpoint()`. */
  implicit final class EagerOps(private val df: DataFrame) extends AnyVal {
    def eagerCheckpoint(): DataFrame = Checkpoints.eager(df)
    def eagerCheckpointKeepPartitioning(): DataFrame =
      Checkpoints.eagerKeepPartitioning(df)
  }

  /** An eager checkpoint stamped with its exact row count, and the `Long`
    * metrics observed on the job that made it. `metrics` always holds the
    * row count under "rows". */
  final case class Materialized(df: DataFrame, metrics: Map[String, Long]) {
    def rows: Long = metrics("rows")
  }

  /** Eagerly checkpoint `finish(df)` in ONE job, with `metrics` (named
    * `Long` aggregates over `df`) and the checkpoint's row count riding that
    * job as observed metrics (`Dataset.observe`) instead of count() actions.
    * `finish` is what the metrics must not see: a projection that drops a
    * column they read, or CCF-Dedup's `distinct`. When metrics are not
    * delivered ([[observedOrCount]]), `fallback` recomputes the caller's
    * from the checkpoint and the row count is counted. No metric may be
    * named "rows". The checkpoint is stamped with exact stats
    * ([[Bridge.withStats]]): `localCheckpoint` copies the origin plan's
    * ESTIMATE, which compounds (squares) through per-round joins until
    * planning drowns in BigInteger arithmetic. */
  def materialize(df: DataFrame, what: String, metrics: Column*)(
      fallback: DataFrame => Map[String, Long] = _ => Map.empty,
      finish: DataFrame => DataFrame = identity): Materialized = {
    val observed = Option.when(metrics.nonEmpty)(Observation())
    val rowsObs = Observation()
    val ckpt = eager(finish(observed.fold(df)(o => df.observe(o, metrics.head, metrics.tail: _*)))
      .observe(rowsObs, count(lit(1)).as("rows")))
    val rows = observedOrCount(rowsObs, what)(Map("rows" -> ckpt.count()))
    val ms = observed.fold(rows)(o => observedOrCount(o, what)(fallback(ckpt)) ++ rows)
    Materialized(Bridge.withStats(ckpt, ms("rows")), ms)
  }

  // Freeing a local checkpoint that is never re-read is intentional; silence
  // Spark's per-RDD "cannot be recomputed after unpersisting" warning once per
  // JVM (the muted logger carries nothing but this warning).
  private val unpersistWarnsMuted = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Free the block-manager storage behind a checkpoint: a frame whose plan
    * IS a checkpoint's `LogicalRDD`. Any other frame, such as a projection
    * over a memoized entry, is left alone. `Dataset.unpersist` only knows
    * cacheManager entries, so the RDD is unpersisted directly; the frame
    * must not be read again. Best-effort: the ContextCleaner is the
    * backstop. */
  def free(df: DataFrame): Unit = {
    if (unpersistWarnsMuted.compareAndSet(false, true))
      try org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
      catch { case _: Throwable => () }
    try df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** A finished [[fixpoint]]: its last state, the rounds run, whether the
    * `until` metric reached 0, and that metric per round, oldest first. */
  final case class Fixpoint(result: DataFrame, rounds: Int, converged: Boolean,
                            history: Seq[Long])

  /** The round loop of the label fixpoints: from `start`, run `round(state,
    * i)` for i = 1, 2, ... up to `maxRounds`, stopping once a round's
    * `until` metric is 0 (none: always `maxRounds` rounds). Each round
    * returns its state [[materialize]]d. The class scaladoc's free rule is
    * applied here: a round's input is freed once the round returns, if this
    * loop made it — every round's output, and `start` when `ownsStart` (a
    * checkpoint made for the loop alone). */
  def fixpoint(start: DataFrame, maxRounds: Int, until: Option[String] = None,
               ownsStart: Boolean = false)(round: (DataFrame, Int) => Materialized): Fixpoint = {
    @annotation.tailrec
    def step(state: DataFrame, owned: Boolean, history: Vector[Long], rounds: Int): Fixpoint = {
      val converged = history.lastOption.contains(0L)
      if (rounds >= maxRounds || converged) Fixpoint(state, rounds, converged, history)
      else {
        val next = round(state, rounds + 1)
        if (owned) free(state)
        step(next.df, owned = true, history ++ until.map(next.metrics), rounds + 1)
      }
    }
    step(start, ownsStart, Vector.empty, 0)
  }

  /** Observed metrics with a bounded wait (ADVICE r03): `Observation.get`
    * blocks forever if a Spark version/config ever stops routing the eager
    * checkpoint through `withAction` metric delivery. The checkpoint job has
    * completed by now, so metrics normally arrive on the first poll; past
    * the deadline, fall back LOUDLY to counting — correct, one extra job —
    * rather than hanging. EXCEPTION-SAFE (VERDICT r11 #1):
    * `Observation.getOrEmpty` can THROW when the metrics `Row` arrives
    * without its schema under concurrent load (an NPE in ScaleSpec); a
    * throwing poll counts as a not-yet-delivered one. */
  private def observedOrCount(obs: Observation, what: String)
                             (fallback: => Map[String, Long]): Map[String, Long] =
    pollMetrics(() => Bridge.observedOrEmpty(obs), what, deadlineMs = 30000L)(fallback)

  /** The poll loop behind [[observedOrCount]], parametric in the read so the
    * throwing-read path is unit-testable without racing a real Observation.
    * `read` normally blocks ≤100 ms internally; the extra 5 ms sleep only
    * runs after a FAILED poll, so the delivered-first-try path pays nothing. */
  private[graft] def pollMetrics(read: () => Map[String, Any], what: String,
                                 deadlineMs: Long)
                                (fallback: => Map[String, Long]): Map[String, Long] = {
    val deadline = System.nanoTime() + deadlineMs * 1000000L
    val safeRead = () => try read() catch { case scala.util.control.NonFatal(_) => Map.empty[String, Any] }
    var got = safeRead()
    while (got.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(5)
      got = safeRead()
    }
    if (got.nonEmpty) got.map { case (k, v) => k -> v.asInstanceOf[Number].longValue() }
    else {
      System.err.println(s"[graft] observed metrics for $what not delivered within " +
        s"${deadlineMs}ms; falling back to count() over the checkpoint")
      fallback
    }
  }
}
