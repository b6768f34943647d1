package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column <-> Catalyst Expression bridge. Spark 4 hides the expression
 * constructor of `Column` behind `private[sql]`; placing this one-file shim
 * inside the `org.apache.spark.sql` namespace is the standard pattern for
 * libraries that ship custom codegen expressions without forking Spark
 * (no Spark internals are modified — we only call two utility methods).
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a Catalyst expression builder as a session-scoped SQL function
    * (usable from `spark.sql` / `expr`). */
  def register(spark: org.apache.spark.sql.SparkSession, name: String,
               builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Non-blocking-ish read of an `Observation`'s metrics (`getOrEmpty` is
    * `private[sql]`; it waits ≤100 ms internally, then returns empty if the
    * metrics haven't been delivered). Lets callers poll with a deadline
    * instead of the unbounded `get`. */
  def observedOrEmpty(obs: org.apache.spark.sql.Observation): Map[String, Any] =
    obs.getOrEmpty

  /**
   * A session-free handle to an eagerly checkpointed DataFrame: the pieces of
   * its `LogicalRDD` leaf that do NOT reference a `SparkSession` (the RDD pins
   * only the shared `SparkContext`). Caching one of these instead of the
   * DataFrame itself lets a cache detect abandoned sessions via a
   * `WeakReference` — a cached DataFrame would strongly pin its session
   * forever (ADVICE r03) — and rebind the data to any live session on the
   * same context.
   */
  final case class CheckpointHandle(
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      partitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning,
      ordering: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder],
      stats: org.apache.spark.sql.catalyst.plans.logical.Statistics) {

    /** Rebind to a live session. Reuses the captured output attributes, so two
      * handles-to-DataFrames of the same entry share expr-ids — same situation
      * as handing out one cached DataFrame twice; `DeduplicateRelations`
      * disambiguates self-joins as usual. */
    def toDF(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
      val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      org.apache.spark.sql.classic.Dataset.ofRows(cs, org.apache.spark.sql.execution.LogicalRDD(
        output, rdd, partitioning, ordering, false, None)(cs, Some(stats), None))
    }

    /** Drop the checkpoint's block-manager storage (safe once unreferenced). */
    def free(): Unit =
      try rdd.unpersist(false) catch { case scala.util.control.NonFatal(_) => () }
  }

  object CheckpointHandle {
    /** Capture from a checkpoint-rooted DataFrame; forces an eager
      * `localCheckpoint` first if the plan isn't already a bare `LogicalRDD`. */
    def of(df: org.apache.spark.sql.DataFrame): CheckpointHandle = {
      val lr = df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l
        case _ => df.localCheckpoint(true).queryExecution.analyzed
          .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
      }
      CheckpointHandle(lr.rdd, lr.output, lr.outputPartitioning, lr.outputOrdering, lr.stats)
    }
  }

  /** Run `materialize` (an eager checkpoint) on a private clone of `df`'s
    * session with AQE off, and rebind the resulting `LogicalRDD` to `df`'s
    * own session. With AQE on, a checkpoint records `UnknownPartitioning`
    * (the adaptive plan's partitioning is not final when the RDD is cut);
    * with it off, Spark records the plan's real output partitioning, which
    * consumers planned on the caller's session (AQE on) then reuse without
    * an exchange. The clone copies the caller's conf and nobody else holds
    * it, so the caller's conf is never written. */
  def materializeWithoutAqe(df: org.apache.spark.sql.DataFrame)(
      materialize: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val caller = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val clone = caller.cloneSession()
    clone.conf.set(org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
    val onClone = org.apache.spark.sql.classic.Dataset.ofRows(clone, df.queryExecution.analyzed)
    CheckpointHandle.of(materialize(onClone)).toDF(caller)
  }

  /** Driver-side Catalyst rows as a driver-local `LocalRelation` frame: no
    * encoder and no conversion from external `Row`s. */
  def localFrame(spark: org.apache.spark.sql.SparkSession,
                 schema: org.apache.spark.sql.types.StructType,
                 rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Driver-side Catalyst rows as an RDD-backed frame (`parallelize`)
    * stamped with their exact row count ([[withStats]]). Catalyst plans a
    * query over it as over any `LogicalRDD`, where over a large
    * `LocalRelation` it spends seconds: ~4.8 s to optimize one CCF round
    * over 153k rows, against ~0.1 s over the same rows in an RDD. */
  def parallelize(spark: org.apache.spark.sql.SparkSession,
                  schema: org.apache.spark.sql.types.StructType,
                  rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    withStats(cs.internalCreateDataFrame(cs.sparkContext.parallelize(rows), schema), rows.length.toLong)
  }

  /** A frame's rows as Catalyst rows on the driver: one tracked action, the
    * job `Dataset.collect` runs, without the conversion to external `Row`s. */
  def collectInternal(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** Rebuild a checkpointed DataFrame's `LogicalRDD` leaf with exact, bounded
    * statistics from an observed row count.
    *
    * Why this exists: `Dataset.localCheckpoint` copies the origin plan's
    * ESTIMATED `Statistics` into the `LogicalRDD` it produces. In an iterative
    * join loop (CCF / pointer-jumping fixpoints) the estimate compounds — a
    * join's default `sizeInBytes` estimate is the PRODUCT of its children's,
    * so each round's checkpoint carries roughly the SQUARE of the previous
    * round's estimate. The `BigInt` doubles in digit count per round and from
    * ~round 18 planning time is 100% `BigInteger.multiply` (measured: ×2.9
    * per round, 100+ s/round by round 24 on a 2 000-node toy graph).
    * Supplying the true row count each round resets the estimate to the truth,
    * keeps planning O(1) per round, and gives the planner an honest input for
    * broadcast decisions. No-op for non-`LogicalRDD` plans. */
  def withStats(df: org.apache.spark.sql.DataFrame, rowCount: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val size = BigInt(math.max(1L, rowCount)) * math.max(8, df.schema.defaultSize)
        val stats = Statistics(sizeInBytes = size, rowCount = Some(BigInt(math.max(0L, rowCount))))
        org.apache.spark.sql.classic.Dataset.ofRows(spark, LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering, lr.isStreaming,
          lr.stream)(spark, Some(stats), None))
      case _ => df
    }
  }
}
