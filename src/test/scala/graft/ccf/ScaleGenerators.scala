package graft.ccf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed long-id graph generators for the scale and property specs:
  * O(1) driver memory, fully parallel, numeric ordering (not
  * reference-CSV parity; the string-id generators are [[Generators]]). */
object ScaleGenerators {

  /** Numeric-key distributed chain: numeric min-propagation has the
    * O(log d) doubling dynamics the CCF paper analyzes. */
  def chainLongDF(spark: SparkSession, n: Long): DataFrame =
    spark.range(n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))

  /** Distributed random graph — the scale path the reference's driver-side
    * rejection sampler cannot take (it materializes every edge on the
    * driver). Deterministic hash-based sampling via xxhash64: ~nEdges
    * distinct canonical edges over [0, nNodes). */
  def randomDF(spark: SparkSession, nNodes: Long, nEdges: Long, seed: Int = 42): DataFrame =
    spark.range(nEdges)
      .select(
        pmod(xxhash64(col("id") * 2 + seed), lit(nNodes)).as("a"),
        pmod(xxhash64(col("id") * 2 + 1 + seed), lit(nNodes)).as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"), greatest(col("a"), col("b")).as("dst"))
      .distinct()
}
