package graft.ccf

import org.apache.spark.sql.SparkSession

/**
 * Experiment harness — reproduces the reference's benchmark matrix
 * (`ccf_experiments.py:146-260`, `CCFExperiments.scala:133-203`): 6 random +
 * 5 chain + 6 cluster configurations x 2 variants, timing each run and
 * writing the same 9-column results CSV.
 *
 * Iteration counts on deterministic (chain) graphs match
 * `/root/reference/experiment_results_scala.csv` exactly (spec-checked);
 * random/cluster graphs use our seeded `scala.util.Random` stream, so
 * component counts match the reference's Scala runs where the draw sequences
 * align (the reference's own Python/Scala runs differ the same way —
 * `report.md:131`).
 *
 * Usage: runMain graft.ccf.Experiments [outCsv]
 */
object Experiments {

  final case class Result(
      experiment: String, nodes: Int, edges: Int, algorithm: String,
      iterations: Int, runtimeSec: Double, components: Long,
      clusters: Int, interEdges: Int)

  def runAll(spark: SparkSession): Seq[Result] = {
    val results = scala.collection.mutable.ArrayBuffer.empty[Result]

    def run(name: String, edges: Seq[(String, String)], nodes: Int,
            clusters: Int = 0, inter: Int = 0): Unit = {
      for ((variant, label) <- Seq(CCF.Basic -> "basic", CCF.SecondarySort -> "secondary_sort")) {
        val df = Generators.toDF(spark, edges)
        val t0 = System.nanoTime()
        val r = CCF.run(df, variant)
        // reference parity: the component count is computed AFTER the timer
        // stops (`CCFExperiments.scala:128-130` — elapsed is taken before
        // nComponents), so it is not part of the measured fixpoint either
        val secs = (System.nanoTime() - t0) / 1e9
        val comps = CCF.componentCount(r.assignments)
        results += Result(name, nodes, edges.size, label, r.iterations, secs, comps, clusters, inter)
      }
    }

    // Experiment 1: random graphs (reference configs, ccf_experiments.py:161-168)
    for ((n, m) <- Seq(50 -> 100, 100 -> 300, 500 -> 1500, 1000 -> 3000, 2000 -> 6000, 5000 -> 15000))
      run("random", Generators.randomGraph(n, m), n)

    // Experiment 2: chain graphs (ccf_experiments.py:194)
    for (n <- Seq(10, 50, 100, 200, 500))
      run("chain", Generators.chainGraph(n), n)

    // Experiment 3: cluster graphs (ccf_experiments.py:220-227)
    for ((k, npc, inter) <- Seq((5, 20, 0), (5, 20, 4), (10, 50, 0), (10, 50, 9), (20, 50, 0), (20, 50, 19)))
      run("cluster", Generators.clusterGraph(k, npc, inter), k * npc, k, inter)

    results.toSeq
  }

  def toCsv(rs: Seq[Result]): String =
    ("experiment,nodes,edges,algorithm,iterations,runtime_sec,components,clusters,inter_edges" +:
      rs.map(r => s"${r.experiment},${r.nodes},${r.edges},${r.algorithm},${r.iterations}," +
        f"${r.runtimeSec}%.3f,${r.components},${r.clusters},${r.interEdges}")).mkString("\n")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_experiment_results.csv")
    val spark = graft.GraftSession.local()
    // Untimed JVM/planner warmup: a few throwaway fixpoints per variant so
    // the matrix's first rows don't absorb one-time class-loading/C2-JIT
    // cost. The reference pays the same warmup inside its first row (its
    // row 1 is 3-5x its steady state for the identical reason). One tiny run
    // is not enough — measured on this box, the shuffle/reducer loops only
    // reach steady state after ~6 invocations (rows 3-6 of the matrix were
    // still 2-4x their isolated-steady-state times with a single-run
    // warmup) — so run 4 small random fixpoints per variant.
    for (v <- Seq(CCF.Basic, CCF.SecondarySort); _ <- 1 to 4)
      CCF.run(Generators.toDF(spark, Generators.randomGraph(100, 300)), v)
    val rs = runAll(spark)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), toCsv(rs))
    println(s"wrote ${rs.size} rows to $out")
    spark.stop()
  }
}
