package perfbench

import graft.SparkEntry
import graft.ccf.CCF
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.Random

/** What one timed operation did. `wallS` is the time the caller waited;
  * `fixpointS` the part spent inside a CCF entry call; `buildS` the shared
  * build seconds that fired inside it (suite only). */
final case class OpRun(
    name: String, family: String, wallS: Double, fixpointS: Double, countS: Double = 0.0,
    rounds: Int = 0, newPairs: Long = 0L, engine: String = "", buildS: Double = 0.0,
    error: Option[String] = None)

trait Op {
  def name: String
  /** Runs the operation inside `timed`, then checks its output outside it. */
  def run(timed: Timed): OpRun
}

/** A workload: untimed warmup and inputs, then a fixed list of operations
  * (one pass) that the benchmark repeats until its time is up. */
trait Workload {
  def name: String
  /** Where the inputs come from, recorded on every result. */
  def inputs: String
  def warmup(spark: SparkSession): Unit
  /** Makes the inputs from the seed; returns one pass of operations. */
  def prepare(spark: SparkSession, seed: Long): IndexedSeq[Op]
  def beforePass(spark: SparkSession): Unit = ()
  def afterPass(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "ccf_matrix" => CcfMatrix
    case "suite_sf0.01" => Suite
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** One CCF entry call on a prepared edge list, timed like the reference
    * harness: the component count is taken after the fixpoint timer stops. */
  final class CcfOp(val name: String, edges: DataFrame, want: Checks.Oracle,
                    entry: DataFrame => CCF.CCFResult, wantIterations: Option[Int]) extends Op {
    def run(timed: Timed): OpRun = {
      var t0, t1, t2 = System.nanoTime()
      try {
        val (r, comps) = timed {
          t0 = System.nanoTime()
          val r = entry(edges)
          t1 = System.nanoTime()
          val comps = CCF.componentCount(r.assignments)
          t2 = System.nanoTime()
          (r, comps)
        }
        val rows = r.assignments.collect().iterator.map(row => (row.get(0), row.get(1)))
        val wrong = Checks.assignment(want, rows, comps).orElse(wantIterations.collect {
          case it if it != r.iterations => s"$it iterations expected, ran ${r.iterations}"
        }).orElse(if (r.converged) None else Some("did not converge"))
        OpRun(name, "ccf", secs(t0, t2), secs(t0, t1), secs(t1, t2), r.iterations,
          r.newPairsHistory.sum, r.engine, error = wrong)
      } catch {
        case e: Exception =>
          val t = secs(t0, System.nanoTime())
          OpRun(name, "ccf", t, t, error = Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
  }

  private val variants = Seq(CCF.Basic -> "basic", CCF.SecondarySort -> "secondary_sort")

  /** The reference's 34-run experiment matrix (`CCFExperiments.scala`): 6
    * random, 5 chain and 6 cluster graphs, each through Basic and
    * SecondarySort. All inputs are below the micro-engine threshold, so the
    * time is per-round job and driver overhead. */
  object CcfMatrix extends Workload {
    val name = "ccf_matrix"
    val inputs = "reference draw sequence (scala.util.Random(seed)); seed 42 = the reference CSV graphs"

    val randomConfigs = Seq(50 -> 100, 100 -> 300, 500 -> 1500, 1000 -> 3000, 2000 -> 6000, 5000 -> 15000)
    val chainConfigs = Seq(10, 50, 100, 200, 500)
    val clusterConfigs = Seq((5, 20, 0), (5, 20, 4), (10, 50, 0), (10, 50, 9), (20, 50, 0), (20, 50, 19))

    /** Iterations of the reference's Scala run (BASELINE.md). Chain graphs do
      * not depend on the seed; the others match only at seed 42. */
    val chainIterations = Map(10 -> 6, 50 -> 8, 100 -> 9, 200 -> 10, 500 -> 12)
    val seed42Iterations: Map[String, Int] = Map(
      "random_50_100" -> 5, "random_100_300" -> 5, "random_500_1500" -> 5,
      "random_1000_3000" -> 5, "random_2000_6000" -> 6, "random_5000_15000" -> 6,
      "cluster_5x20_0" -> 6, "cluster_5x20_4" -> 8, "cluster_10x50_0" -> 7,
      "cluster_10x50_9" -> 9, "cluster_20x50_0" -> 7, "cluster_20x50_19" -> 10)

    /** Rejection-sampled distinct canonical edges, the reference's draw order. */
    def randomGraph(n: Int, m: Int, seed: Long): Seq[(String, String)] = {
      val rng = new Random(seed)
      val edges = mutable.Set.empty[(String, String)]
      while (edges.size < m) {
        val a = rng.nextInt(n)
        val b = rng.nextInt(n)
        if (a != b) edges += ((math.min(a, b).toString, math.max(a, b).toString))
      }
      edges.toSeq
    }

    def chainGraph(n: Int): Seq[(String, String)] =
      (0 until n - 1).map(i => (i.toString, (i + 1).toString))

    /** Path plus skip-2 edges inside each cluster, then seeded bridges. */
    def clusterGraph(k: Int, npc: Int, inter: Int, seed: Long): Seq[(String, String)] = {
      val rng = new Random(seed)
      val edges = mutable.ListBuffer.empty[(String, String)]
      for (c <- 0 until k; i <- 0 until npc - 1) {
        val base = c * npc
        edges += (((base + i).toString, (base + i + 1).toString))
        if (i + 2 < npc) edges += (((base + i).toString, (base + i + 2).toString))
      }
      for (_ <- 0 until inter) {
        val cs = rng.shuffle((0 until k).toList).take(2)
        edges += (((cs.head * npc + rng.nextInt(npc)).toString, (cs(1) * npc + rng.nextInt(npc)).toString))
      }
      edges.toSeq
    }

    def graphs(seed: Long): Seq[(String, Seq[(String, String)], Option[Int])] = {
      def at42(name: String) = if (seed == 42) seed42Iterations.get(name) else None
      randomConfigs.map { case (n, m) => val g = s"random_${n}_$m"; (g, randomGraph(n, m, seed), at42(g)) } ++
        chainConfigs.map(n => (s"chain_$n", chainGraph(n), chainIterations.get(n))) ++
        clusterConfigs.map { case (k, npc, inter) =>
          val g = s"cluster_${k}x${npc}_$inter"; (g, clusterGraph(k, npc, inter, seed), at42(g))
        }
    }

    /** Small fixpoints of two shapes through both kernels, so the first
      * timed operations do not pay class loading and JIT. */
    def warmup(spark: SparkSession): Unit = {
      val shapes = Seq(randomGraph(100, 300, 7), chainGraph(50)).map(toDF(spark, _))
      for (g <- shapes; (v, _) <- variants) CCF.componentCount(CCF.run(g, v).assignments)
    }

    def prepare(spark: SparkSession, seed: Long): IndexedSeq[Op] =
      graphs(seed).flatMap { case (g, edges, iters) =>
        val df = toDF(spark, edges)
        val want = Checks.oracleString(edges.iterator)
        variants.map { case (v, label) =>
          new CcfOp(s"${g}_$label", df, want, e => CCF.run(e, v), iters): Op
        }
      }.toIndexedSeq

    private def toDF(spark: SparkSession, edges: Seq[(String, String)]): DataFrame = {
      import spark.implicits._
      edges.toDF("src", "dst")
    }
  }

  /** A fixed subset of `SparkEntry.queries`, counted with `count()` as
    * `graft.Bench` does: caches cleared before each pass, shared builds
    * included and also reported on their own. */
  object Suite extends Workload {
    val name = "suite_sf0.01"
    val DataDir = "perfbench/data/sf0.01"
    val inputs = s"read-only tables at $DataDir (copy of the sf0.01 test tables); not seeded"
    /** The keys of one pass; perfbench/README.md says how they were chosen. */
    val Keys: Seq[String] = Seq(
      "ccf_components", "ccf_component_count", "q3_join_agg", "t1_token_stats",
      "d1_exact_dedup", "s2_knn_lsh", "e2_sessions", "m6_media_neardup",
      "c8_quantile_filter", "p1_pipeline")

    /** Shared builds the keys above trigger (`SharedBuilds` names). */
    val Builds: Seq[String] = Seq("copurchase_edges", "ccf_assignments_Basic", "pipeline_day1")

    val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
      "GraphQueries" -> GraphQueries.defs, "RelationalQueries" -> RelationalQueries.defs,
      "TextQueries" -> TextQueries.defs, "DedupQueries" -> DedupQueries.defs,
      "SimilarityQueries" -> SimilarityQueries.defs, "EventQueries" -> EventQueries.defs,
      "MultimodalQueries" -> MultimodalQueries.defs, "CurationQueries" -> CurationQueries.defs,
      "PipelineQueries" -> PipelineQueries.defs)

    def familyOf(key: String): String = families.collectFirst { case (f, d) if d.contains(key) => f }.get

    lazy val expected: Map[String, Long] = {
      val src = scala.io.Source.fromFile("perfbench/expected_rows.tsv")
      try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t")).map(f => f(0) -> f(1).toLong).toMap
      finally src.close()
    }

    def clear(spark: SparkSession): Unit = {
      DedupQueries.clearCaches(spark)
      GraphQueries.clearCaches(spark)
      SimilarityQueries.clearCaches(spark)
      PipelineQueries.clearCaches(spark)
      SharedBuilds.reset()
    }

    /** Four of `graft.Bench`'s seven warmup keys: a join, a window, text
      * functions and a CCF fixpoint with its builds. */
    def warmup(spark: SparkSession): Unit = {
      for (q <- Seq("q3_join_agg", "e2_sessions", "t1_token_stats", "ccf_components"))
        SparkEntry.queries(q)(spark, DataDir).count()
      clear(spark)
    }

    def prepare(spark: SparkSession, seed: Long): IndexedSeq[Op] = {
      val queries = SparkEntry.queries
      Keys.map { key =>
        val fn = queries(key)
        val family = familyOf(key)
        new Op {
          val name = key
          def run(timed: Timed): OpRun = {
            val b0 = SharedBuilds.accruedSeconds
            var t0, t1 = System.nanoTime()
            val (n, err) =
              try timed {
                t0 = System.nanoTime()
                try (fn(spark, DataDir).count(), None) finally t1 = System.nanoTime()
              } catch { case e: Exception => (-1L, Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")) }
            val wall = secs(t0, t1)
            val builds = SharedBuilds.accruedSeconds - b0
            val fix = if (key.startsWith("ccf_")) wall else 0.0
            OpRun(key, family, wall, fix, buildS = builds,
              error = err.orElse(Checks.rows(key, n, expected)))
          }
        }: Op
      }.toIndexedSeq
    }

    override def beforePass(spark: SparkSession): Unit = clear(spark)
    override def afterPass(spark: SparkSession): Map[String, Double] = SharedBuilds.snapshot
  }
}
