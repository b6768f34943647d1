package graft.ccf

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.Random

/** Property check (SURVEY.md §5.2): CCF output equals a driver-side
  * union-find oracle on seeded random graphs. Runs a bounded set of seeds
  * rather than an open-ended ScalaCheck forAll — each case spins Spark jobs,
  * so we trade generator breadth for suite runtime. */
class CCFPropertySpec extends SparkSpec {

  /** Minimal union-find computing, per node, the LEXICOGRAPHIC-min member of
    * its component (matching CCF's string semantics). */
  private def unionFindLabels(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  for (seed <- Seq(1, 7, 13, 42, 99)) {
    test(s"ccf == union-find on random graph, seed=$seed") {
      val rng = new Random(seed)
      val n = 20 + rng.nextInt(60)
      val m = n + rng.nextInt(2 * n)
      val edges = Seq.fill(m) {
        (rng.nextInt(n).toString, rng.nextInt(n).toString)
      }.filter { case (a, b) => a != b }

      val expected = unionFindLabels(edges)
        .collect { case (node, root) if node != root => (node, root) }.toSet

      val r = CCF.run(Generators.toDF(spark, edges))
      val got = r.assignments.collect().map(x => (x.getString(0), x.getString(1))).toSet
      assert(got === expected)
      assert(r.converged)
      // labels only decrease: every label is <= its node (strictly, since
      // representatives emit no row)
      assert(got.forall { case (node, comp) => comp < node })
    }
  }

  for (seed <- Seq(3, 21)) {
    test(s"auto == union-find regardless of routing, seed=$seed") {
      // density varies with the draw (m up to ~3n on few nodes can cross the
      // dense threshold), so this stochastically covers both the CCF and the
      // straight-to-PointerJump routes of the auto engine — the answer must
      // be routing-invariant.
      val rng = new Random(seed)
      val n = 10 + rng.nextInt(40)
      val m = n + rng.nextInt(5 * n)
      val edges = Seq.fill(m) {
        (rng.nextInt(n).toString, rng.nextInt(n).toString)
      }.filter { case (a, b) => a != b }
      val expected = unionFindLabels(edges)
        .collect { case (node, root) if node != root => (node, root) }.toSet
      val r = CCF.auto(Generators.toDF(spark, edges))
      val got = r.assignments.collect().map(x => (x.getString(0), x.getString(1))).toSet
      assert(got === expected, s"engine=${r.engine}")
      assert(r.converged)
    }
  }

  // Engine differential (ROADMAP item 5): every input below is under
  // MicroFixpoint.Threshold, so CCF.run on the shared session takes the
  // micro engine, while a session with reliable checkpoints runs the
  // declarative loop. Both must agree on the whole result, and PointerJump
  // on the assignments.
  private def strEdges(edges: Seq[(String, String)]): SparkSession => DataFrame =
    s => Generators.toDF(s, edges)

  private val big = 1L << 31
  private val engineInputs: Seq[(String, SparkSession => DataFrame)] = Seq(
    "fig5" -> strEdges(Seq("A" -> "B", "B" -> "D", "D" -> "E", "A" -> "C", "A" -> "E",
      "F" -> "G", "F" -> "H")),
    "chain 50" -> strEdges(Generators.chainGraph(50)),
    "random 100/300" -> strEdges(Generators.randomGraph(100, 300)),
    "cluster 5x20/4" -> strEdges(Generators.clusterGraph(5, 20, interEdges = 4)),
    "self-loops" -> strEdges(Seq("x" -> "x", "x" -> "y", "y" -> "y", "z" -> "z")),
    "duplicate and reversed edges" -> strEdges(Seq("a" -> "b", "a" -> "b", "b" -> "a",
      "c" -> "b", "b" -> "c", "c" -> "b", "d" -> "c")),
    // the hub is the largest id, so round 1 re-labels it and re-emits
    // every leaf
    "200-leaf string star" -> strEdges((1 to 200).map(i => "zhub" -> f"leaf$i%03d")),
    "empty" -> strEdges(Seq.empty),
    "long ids >= 2^31" -> { s =>
      import s.implicits._
      Seq((big + 5, big + 3), (big + 3, big + 10), (big + 10, 3000000000L),
        (big + 100, big + 101), (big + 101, big + 99), (5000000000L, big + 100))
        .toDF("src", "dst")
    })

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(r => s"${r.get(0)}->${r.get(1)}").toSeq.sorted

  private lazy val declSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set(graft.Checkpoints.DirKey,
      java.nio.file.Files.createTempDirectory("graft-ccf-engines").toString)
    s
  }

  for ((name, input) <- engineInputs) {
    test(s"engines agree on $name: micro engine, declarative loop, PointerJump") {
      val micro = CCF.run(input(spark))
      val declarative = CCF.run(input(declSession))
      val expected = rows(micro.assignments)
      assert(rows(declarative.assignments) === expected)
      assert(declarative.iterations === micro.iterations)
      assert(declarative.newPairsHistory === micro.newPairsHistory)
      assert(declarative.converged === micro.converged)
      assert(micro.converged)
      assert(rows(PointerJump.run(input(spark)).assignments) === expected)
    }
  }
}
