package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Optimization-round evidence tool: write `.explain("formatted")` for every
  * declared query (or a comma-separated subset in arg 2) to
  * `<outDir>/<key>_<suffix>.txt`, so plan-shape claims in OPTIMIZATION_r*.md
  * are checkable without running Spark.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [k1,k2,...]
  *
  * Note: constructing a query's DataFrame runs its family's eager shared
  * builds (fixpoints, staged corpus scans) exactly like Verify does — the
  * dump costs roughly one pass of shared builds plus planning, not a full
  * execution of every query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val spark = graft.GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    var failed = 0
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        System.err.println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    // r19 (VERDICT r18 #8): for the iterative keys, the declared query's
    // plan is just the final checkpoint scan — the judged shape is the
    // ROUND. Dump one un-checkpointed round per fixpoint key, built over
    // the real memoized builds, as <key>_round_<suffix>.txt.
    val rounds: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "g2_pagerank" -> (() => graft.queries.GraphQueries.g2RoundFrame(spark, sfDir)),
      "g3_label_propagation" -> (() => graft.queries.GraphQueries.g3RoundFrame(spark, sfDir)),
      "ccf_components_pj" -> (() => graft.queries.GraphQueries.pjRoundFrame(spark, sfDir)))
    for ((name, mk) <- rounds if only.forall(_.contains(name))) {
      try {
        val txt = mk().queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/${name}_round_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        System.err.println(s"[plandump] ${name}_round ok")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[plandump] ${name}_round FAILED: ${e.getMessage}")
      }
    }
    println(s"""{"plandump_failed":$failed}""")
    spark.stop()
  }
}
