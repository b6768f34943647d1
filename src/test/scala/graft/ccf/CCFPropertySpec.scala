package graft.ccf

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

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

  // Round-shape differential (ROADMAP item 4): on the shared session each
  // round below MicroFixpoint.FusedRows input rows runs on the driver and
  // each larger one declaratively, while a session with reliable
  // checkpoints runs every round declaratively. Both must agree on the
  // whole result; PointerJump (its rounds broadcast, and all shuffled), and
  // CCF.auto on either session, on the assignments.
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
    // Spark orders strings by UTF-8 bytes (code points): U+E000 < U+FFFD <
    // U+1F600, where Java's UTF-16 compareTo puts the surrogate pair first
    "supplementary-plane keys" -> strEdges(Seq("\uFFFD" -> "\uD83D\uDE00",
      "\uD83D\uDE00" -> "\uE000x")),
    "random 5000/15000" -> strEdges(Generators.randomGraph(5000, 15000)),
    "cluster 20x50/0" -> strEdges(Generators.clusterGraph(20, 50)),
    "string chain 500" -> strEdges(Generators.chainGraph(500)),
    // the next two cross from driver rounds to a declarative round and back
    // mid-run: their pair sets peak at 530,916 and 684,715 rows, past
    // MicroFixpoint.FusedRows
    "string chain 1000" -> strEdges(Generators.chainGraph(1000)),
    "random 30000/90000" -> strEdges(Generators.randomGraph(30000, 90000)),
    // mean degree 2 * 3000 / 100 = 60: CCF.auto's dense rule sends it
    // straight to PointerJump
    "dense random 100/3000" -> strEdges(Generators.randomGraph(100, 3000, seed = 11)),
    // 120,000 input pairs, every round below MicroFixpoint.FusedRows
    "dense random 2000/120000" -> strEdges(Generators.randomGraph(2000, 120000)),
    // 533,247 long-keyed input pairs from a plan: round 1 runs declaratively
    // over the entry checkpoint, its deduplicated output drops below
    // MicroFixpoint.FusedRows, and rounds 2-3 run on the driver
    "dense randomDF 2000/620000" -> (s => ScaleGenerators.randomDF(s, 2000, 620000)),
    // 529,000 driver-local pairs, past MicroFixpoint.FusedRows, 2,000 of them
    // repeated and 2,000 reversed: round 1 runs declaratively over the
    // RDD-backed hand-off frame, not the LocalRelation, and counts NewPairs
    // over the input's raw multiplicity
    "dense random 2000/525000, duplicated edges" -> {
      val g = Generators.randomGraph(2000, 525000)
      strEdges(g ++ g.take(2000) ++ g.takeRight(2000).map(_.swap))
    },
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

  /** A session whose PointerJump rounds all shuffle: the byte budget drops
    * the label table's hint and Spark's own size-based broadcast is off. */
  private lazy val shuffledSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set(graft.Checkpoints.BroadcastBudgetKey, "0")
    s
  }

  /** The declarative loop's result per input, run once for the specs that
    * compare against it. */
  private val declarativeRuns = scala.collection.mutable.Map.empty[String, CCF.CCFResult]
  private def declarativeRun(name: String, input: SparkSession => DataFrame): CCF.CCFResult =
    declarativeRuns.getOrElseUpdate(name, CCF.run(input(declSession)))

  for ((name, input) <- engineInputs) {
    test(s"engines agree on $name: micro engine, declarative loop, PointerJump") {
      val micro = CCF.run(input(spark))
      val declarative = declarativeRun(name, input)
      val expected = rows(micro.assignments)
      assert(rows(declarative.assignments) === expected)
      assert(declarative.iterations === micro.iterations)
      assert(declarative.newPairsHistory === micro.newPairsHistory)
      assert(declarative.converged === micro.converged)
      assert(micro.converged)
      assert(rows(PointerJump.run(input(spark)).assignments) === expected)
      val shuffledPj = PointerJump.run(input(shuffledSession))
      assert(rows(shuffledPj.assignments) === expected, "PointerJump, shuffled rounds")
      assert(shuffledPj.converged, "PointerJump, shuffled rounds")
      for ((engine, s) <- Seq("micro" -> spark, "declarative" -> declSession)) {
        val auto = CCF.auto(input(s))
        assert(rows(auto.assignments) === expected, s"auto on the $engine engine")
        assert(auto.converged === micro.converged, s"auto on the $engine engine")
        if (name == "string chain 500")
          assert(auto.engine === "ccf+pj", s"auto on the $engine engine")
        if (name.startsWith("dense"))
          assert(auto.engine === "pj", s"auto on the $engine engine")
      }
    }
  }

  // Driver-local results (a LocalRelation, when the last round ran on the
  // driver) against the declarative loop's checkpointed ones: one schema,
  // names, types and nullability included, whatever shape and number of
  // rounds ran; the same rows; and CCF.componentCount's driver-side count
  // against Spark's on RDD-backed and checkpointed copies.
  private val keyedInputs: Seq[(String, SparkSession => DataFrame)] = Seq(
    "empty, long-keyed" -> { s =>
      import s.implicits._
      Seq.empty[(Long, Long)].toDF("src", "dst")
    },
    // converges in round 1, over non-null input columns
    "one long edge" -> { s =>
      import s.implicits._
      Seq((2L, 1L)).toDF("src", "dst")
    },
    // a declarative round never groups, emits or counts a null endpoint
    "null endpoints" -> { s =>
      import s.implicits._
      Seq(("b", "a"), (null, "c"), ("c", null), ("c", "b"), ("d", null)).toDF("src", "dst")
    },
    "int ids" -> { s =>
      import s.implicits._
      Seq((5, 3), (3, 10), (10, 2), (100, 101), (101, 99), (7, 7)).toDF("src", "dst")
    })

  for ((name, input) <- engineInputs ++ keyedInputs) {
    test(s"driver-local result on $name: declarative schema and rows, one component count") {
      val local = CCF.run(input(spark)).assignments
      assert(local.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      val declarative = declarativeRun(name, input).assignments
      // StructType equality covers names, types, nullability and metadata
      val keyType = input(spark).schema.fields(0).dataType
      val schema = StructType(Seq(StructField("node", keyType), StructField("component", keyType)))
      for ((run, df) <- Seq("driver rounds" -> local, "declarative rounds" -> declarative,
          "one driver round" -> CCF.run(input(spark), maxIterations = 1).assignments,
          "one declarative round" -> CCF.run(input(declSession), maxIterations = 1).assignments))
        assert(df.schema === schema, run)
      assert(rows(local) === rows(declarative))
      val n = CCF.componentCount(local)
      assert(n === CCF.componentCount(declarative))
      for ((copy, df) <- Seq(
          "RDD-backed" -> spark.createDataFrame(local.rdd, local.schema),
          "checkpointed" -> graft.Checkpoints.eager(local)))
        assert(CCF.componentCount(df) === n, copy)
    }
  }

  test("auto on string chain 500: CCF's rounds up to the switch, then PointerJump on the input") {
    val input = strEdges(Generators.chainGraph(500))
    val ccf = CCF.run(input(spark)).newPairsHistory
    val pj = PointerJump.run(input(spark)).newPairsHistory
    // a driver-local input is read in place; a planned one (chainDF) is
    // checkpointed at entry, and the restart reads that checkpoint
    for ((engine, edges) <- Seq("micro" -> input(spark), "declarative" -> input(declSession),
        "declarative, checkpointed input" -> Generators.chainDF(declSession, 500))) {
      val auto = CCF.auto(edges)
      assert(auto.engine === "ccf+pj", s"auto on the $engine engine")
      val k = auto.newPairsHistory.length - pj.length
      assert(k > 0, s"auto on the $engine engine")
      assert(auto.newPairsHistory === ccf.take(k) ++ pj, s"auto on the $engine engine")
      assert(rows(auto.assignments) === rows(PointerJump.run(input(spark)).assignments),
        s"auto on the $engine engine")
    }
  }

  /** Changed-label counts per round of PointerJump's update on the driver:
    * new(u) = min of lab over N(u) ∪ {u, lab(u)}, then each label m takes
    * the smallest new(u) among the nodes u labelled m. */
  private def pointerJumpModel(edges: Seq[(String, String)]): Seq[Long] = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var lab = nbrs.map { case (u, vs) => u -> (vs :+ u).min }
    val history = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (history.lastOption != Some(0L)) {
      val next = nbrs.map { case (u, vs) => u -> (vs.map(lab) :+ lab(u) :+ lab(lab(u))).min }
      val hooks = next.groupMapReduce { case (u, _) => lab(u) }(_._2)((a, b) => if (a < b) a else b)
      val hooked = next.map { case (u, l) => u -> hooks.get(u).fold(l)(h => if (h < l) h else l) }
      history += hooked.count { case (u, l) => l != lab(u) }.toLong
      lab = hooked
    }
    history.toSeq
  }

  test("PointerJump equals its driver-side model on both round shapes, string chain 500") {
    // "10" and "100" are lexicographic local minima of the chain: the hook
    // lets each take the best label its members found (11 rounds) instead of
    // waiting for one to arrive hop by hop (18 rounds without it)
    val edges = Generators.chainGraph(500)
    val expected = pointerJumpModel(edges)
    assert(expected.length === 11)
    for ((shape, s) <- Seq("broadcast" -> spark, "shuffled" -> shuffledSession)) {
      val r = PointerJump.run(Generators.toDF(s, edges))
      assert(r.newPairsHistory === expected, s"$shape rounds")
      assert(r.converged, s"$shape rounds")
      assert(rows(r.assignments) === rows(CCF.run(Generators.toDF(spark, edges)).assignments),
        s"$shape rounds")
    }
  }

  test("PointerJump: the label table's bytes, not its rows, pick the round shape") {
    // two 200-node chains: long keys make a 200 x 16 B label table, string
    // keys a 200 x 40 B one, and the budget lies between the two. Spark's own
    // size-based broadcast is off, so every BroadcastExchange is PointerJump's
    val n = 200
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set(graft.Checkpoints.BroadcastBudgetKey, (n * 28).toString)
    for ((keys, edges, broadcasts) <- Seq(
        ("long", ScaleGenerators.chainLongDF(s, n), true),
        ("string", Generators.toDF(s, Generators.chainGraph(n)), false))) {
      val (r, plans) = actionPlans(s)(PointerJump.run(edges))
      assert(r.converged, keys)
      assert(plans.nonEmpty, keys)
      assert(plans.exists(_.contains("BroadcastExchange")) === broadcasts, s"$keys keys")
      assert(rows(r.assignments) === rows(CCF.run(edges).assignments), s"$keys keys")
    }
  }

  test("maxIterations inside a fused block: the micro engine equals the declarative loop") {
    // chain 50 stays below MicroFixpoint.FusedRows in every round, so the cap
    // stops a run whose rounds all ran on the driver
    val input = strEdges(Generators.chainGraph(50))
    val micro = CCF.run(input(spark), maxIterations = 3)
    val declarative = CCF.run(input(declSession), maxIterations = 3)
    for (r <- Seq(micro, declarative)) {
      assert(r.iterations === 3)
      assert(!r.converged)
    }
    assert(micro.newPairsHistory === declarative.newPairsHistory)
    val got = rows(micro.assignments)
    assert(got === got.distinct)
    assert(got === rows(declarative.assignments))
  }
}
