package graft.ccf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

/**
 * Deterministic synthetic graph generators — behavioral spec from the
 * reference (`ccf_experiments.py:18-54`, `CCFExperiments.scala:25-65`).
 * Node IDs are STRINGS (reference semantics, SURVEY.md §1.1): every generator
 * stringifies its integer ids, so component representatives follow
 * lexicographic order.
 *
 * The seeded generators reproduce the reference's `scala.util.Random` draw
 * sequence exactly, so iteration counts and component counts match
 * `/root/reference/experiment_results_scala.csv` run for run (the Python CSV
 * differs on random/cluster graphs only because Python's RNG stream differs
 * at the same seed — `report.md:131`).
 *
 * Driver-side `Seq` generators mirror the reference (its graphs are at most
 * ~15k edges). For scale testing there is also a distributed chain generator
 * (`chainDF`) built on `spark.range` — O(1) driver memory at any n.
 */
object Generators {

  /** Path graph 0-1-…-(n-1): worst-case diameter for CCF. */
  def chainGraph(n: Int): Seq[(String, String)] =
    (0 until n - 1).map(i => (i.toString, (i + 1).toString))

  /** Erdős–Rényi-style: rejection-sample `nEdges` distinct undirected edges,
    * canonical (min,max) orientation, no self-loops, seeded. */
  def randomGraph(nNodes: Int, nEdges: Int, seed: Int = 42): Seq[(String, String)] = {
    val rng = new Random(seed)
    val edges = mutable.Set.empty[(String, String)]
    while (edges.size < nEdges) {
      val a = rng.nextInt(nNodes)
      val b = rng.nextInt(nNodes)
      if (a != b) {
        edges += ((math.min(a, b).toString, math.max(a, b).toString))
      }
    }
    edges.toSeq
  }

  /** k clusters of `nodesPerCluster` nodes: intra-cluster path edges (i,i+1)
    * plus skip-2 edges (i,i+2); then `interEdges` seeded random bridges
    * between two distinct clusters (chosen by a seeded shuffle). */
  def clusterGraph(
      nClusters: Int,
      nodesPerCluster: Int,
      interEdges: Int = 0,
      seed: Int = 42): Seq[(String, String)] = {
    val rng = new Random(seed)
    val edges = mutable.ListBuffer.empty[(String, String)]
    for (c <- 0 until nClusters) {
      val base = c * nodesPerCluster
      for (i <- 0 until nodesPerCluster - 1) {
        edges += (((base + i).toString, (base + i + 1).toString))
        if (i + 2 < nodesPerCluster)
          edges += (((base + i).toString, (base + i + 2).toString))
      }
    }
    for (_ <- 0 until interEdges) {
      val cs = rng.shuffle((0 until nClusters).toList).take(2)
      val n1 = cs.head * nodesPerCluster + rng.nextInt(nodesPerCluster)
      val n2 = cs(1) * nodesPerCluster + rng.nextInt(nodesPerCluster)
      edges += ((n1.toString, n2.toString))
    }
    edges.toSeq
  }

  /** Materialize a driver-side edge Seq as a DataFrame (O1 in-memory source). */
  def toDF(spark: SparkSession, edges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    edges.toDF("src", "dst")
  }

  /** Distributed chain generator: no driver-side materialization, scales to
    * any n. String ids to preserve reference ordering semantics.
    *
    * CAUTION for large n: with string ids the representative order is
    * LEXICOGRAPHIC ("10000" < "2"), which scatters intermediate minima along
    * the chain and inflates the intermediate pair sets far beyond the numeric
    * ordering's clean doubling pattern — fine at reference sizes (≤1000),
    * pathological at 10k+. Scale specs use the numeric-key chain in the test
    * sources (`graft.ccf.ScaleGenerators.chainLongDF`). */
  def chainDF(spark: SparkSession, n: Long): DataFrame =
    spark.range(n - 1).select(
      col("id").cast("string").as("src"),
      (col("id") + 1).cast("string").as("dst"))
}
