package graft.ccf

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** CCF core: golden Fig.-5 graph, variant agreement, reference invariants,
  * and the edge cases the reference never exercises (FIXTURES.md §A.5). */
class CCFSpec extends SparkSpec {

  private def edges(pairs: (String, String)*): DataFrame =
    Generators.toDF(spark, pairs)

  private def asgn(result: CCF.CCFResult): Set[(String, String)] =
    result.assignments.collect().map(r => (r.getString(0), r.getString(1))).toSet

  private val fig5 = Seq(
    "A" -> "B", "B" -> "D", "D" -> "E", "A" -> "C", "A" -> "E", "F" -> "G", "F" -> "H")

  // Expected per the reference's worked example
  // (`ccf_connected_components.py:242-247`): representative has NO self-row.
  private val fig5Expected = Set(
    "B" -> "A", "C" -> "A", "D" -> "A", "E" -> "A", "G" -> "F", "H" -> "F")

  test("golden Fig.5 graph, Basic variant") {
    val r = CCF.run(edges(fig5: _*))
    assert(asgn(r) === fig5Expected)
    assert(r.converged)
    assert(r.newPairsHistory.last === 0L)
  }

  test("golden Fig.5 graph, SecondarySort variant agrees") {
    val r = CCF.run(edges(fig5: _*), CCF.SecondarySort)
    assert(asgn(r) === fig5Expected)
    assert(r.converged)
  }

  test("reliable-checkpoint mode (spark.graft.checkpointDir) converges identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(graft.Checkpoints.DirKey, dir)
    try {
      val r = CCF.run(edges(fig5: _*))
      assert(asgn(r) === fig5Expected)
      assert(r.converged)
      // the rounds really went through reliable checkpoint(): files on disk
      val rddDirs = new java.io.File(spark.sparkContext.getCheckpointDir.get
        .stripPrefix("file:")).listFiles()
      assert(rddDirs != null && rddDirs.exists(_.getName.startsWith("rdd-")),
        s"no rdd-* checkpoint dirs under $dir")
    } finally {
      spark.conf.unset(graft.Checkpoints.DirKey)
    }
  }

  test("membership rollup re-adds the representative, sorted") {
    val r = CCF.run(edges(fig5: _*))
    val members = CCF.membership(r.assignments)
      .collect().map(row => row.getString(0) -> row.getSeq[String](1).toList).toMap
    assert(members === Map("A" -> List("A", "B", "C", "D", "E"), "F" -> List("F", "G", "H")))
  }

  test("component count") {
    val r = CCF.run(edges(fig5: _*))
    assert(CCF.componentCount(r.assignments) === 2L)
  }

  test("string semantics: lexicographic min is the representative") {
    // numeric min is 2, lexicographic min is "10"
    val r = CCF.run(edges("2" -> "10", "10" -> "100"))
    assert(asgn(r) === Set("2" -> "10", "100" -> "10"))
  }

  test("long keys: numeric min is the representative") {
    import spark.implicits._
    val df = Seq((2L, 10L), (10L, 100L)).toDF("src", "dst")
    val r = CCF.run(df)
    val got = r.assignments.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got === Set((10L, 2L), (100L, 2L)))
  }

  test("empty edge list") {
    val r = CCF.run(edges())
    assert(r.assignments.count() === 0L)
    assert(r.converged)
  }

  test("single edge") {
    val r = CCF.run(edges("A" -> "B"))
    assert(asgn(r) === Set("B" -> "A"))
  }

  test("self-loop only") {
    val r = CCF.run(edges("X" -> "X"))
    assert(r.assignments.count() === 0L)
    assert(r.converged)
  }

  test("duplicate input edges are harmless") {
    val r = CCF.run(edges("A" -> "B", "A" -> "B", "B" -> "A"))
    assert(asgn(r) === Set("B" -> "A"))
  }

  test("two chains stay separate components") {
    val r = CCF.run(edges("a" -> "b", "b" -> "c", "x" -> "y", "y" -> "z"))
    assert(asgn(r) === Set("b" -> "a", "c" -> "a", "y" -> "x", "z" -> "x"))
  }

  test("star graph (hub skew shape)") {
    val star = (1 to 50).map(i => "hub" -> f"leaf$i%02d")
    val r = CCF.run(edges(star: _*))
    val a = asgn(r)
    assert(a.size === 50)
    assert(a.forall(_._2 == "hub")) // "hub" < "leafNN" lexicographically
  }

  test("maxIterations caps the loop and reports non-convergence") {
    val chain = Generators.chainGraph(64)
    val r = CCF.run(Generators.toDF(spark, chain), maxIterations = 2)
    assert(!r.converged)
    assert(r.iterations === 2)
  }

  /** The jobs `body` starts, counted by a job-start listener filtered by
    * job group; an in-order marker job proves every start has arrived. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val (group, markerGroup) = ("ccf-jobs", "ccf-jobs-marker")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`markerGroup`) => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val r = body
      // the bus delivers events in order: once the marker job's start has
      // arrived, so has every job the body started
      sc.setJobGroup(markerGroup, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("micro engine: a fixpoint below the fused budget runs on the driver") {
    // string chain 200 peaks far below MicroFixpoint.FusedRows, string chain
    // 500 at 107,620 rows, and random 2000/120000 (120,000 input pairs) at
    // 237,801, so every round of all three runs on the driver, round 1
    // included: from a driver-local input the fixpoint and the component
    // count start no job
    for ((name, edges, iters) <- Seq(
        ("chain 200", Generators.chainGraph(200), 10),
        ("chain 500", Generators.chainGraph(500), 12),
        ("random 2000/120000", Generators.randomGraph(2000, 120000), 4))) {
      val ((r, comps), jobs) = jobsOf {
        val r = CCF.run(Generators.toDF(spark, edges))
        (r, CCF.componentCount(r.assignments))
      }
      assert(r.converged, name)
      assert(r.iterations === iters, name)
      assert(comps === 1L, name)
      assert(jobs === 0, name)
    }
    // a planned input is checkpointed at entry (one job), then collected
    // onto the driver (one job)
    val ((r, comps), jobs) = jobsOf {
      val r = CCF.run(Generators.chainDF(spark, 500))
      (r, CCF.componentCount(r.assignments))
    }
    assert(r.iterations === 12)
    assert(comps === 1L)
    assert(jobs === 2)
  }

  test("driver rounds: CCF.run and componentCount on a driver-local input plan nothing") {
    // every round of both runs is below MicroFixpoint.FusedRows: the input is
    // read from its LocalRelation, the result is a LocalRelation and the
    // count reads its rows, so neither a job nor a Catalyst action runs
    val session = spark.newSession()
    for ((name, edges, iters) <- Seq(
        ("string chain 500", Generators.chainGraph(500), 12),
        ("random 5000/15000", Generators.randomGraph(5000, 15000), 6))) {
      val (((r, comps), jobs), actions) = actionPlans(session)(jobsOf {
        val r = CCF.run(Generators.toDF(session, edges))
        (r, CCF.componentCount(r.assignments))
      })
      assert(r.iterations === iters, name)
      assert(comps === 1L, name)
      assert(actions.isEmpty, name)
      assert(jobs === 0, name)
    }
  }

  test("micro engine: a pair set past the fused budget leaves the fused block") {
    // string chain 1000's round 10 emits 530,916 rows, past
    // MicroFixpoint.FusedRows: rounds 1-10 run on the driver, round 11 runs
    // declaratively over the 153,539 rows the driver deduplicates them to,
    // and one collect job brings its 1,011-row checkpoint back for rounds
    // 12-13 on the driver: 6 jobs in all
    val (r, jobs) = jobsOf(CCF.run(Generators.toDF(spark, Generators.chainGraph(1000))))
    assert(r.converged)
    assert(r.iterations === 13)
    assert(jobs === 6)
  }

  test("micro engine: a finished fixpoint leaves no RDD persisted") {
    // Every label fixpoint, in each of its round shapes: every RDD a run
    // leaves persisted is a leaf of its result's own plan (the last round's
    // checkpoint), and no checkpoint its caller passed in is freed.
    import graft.Checkpoints.EagerOps
    import graft.queries.{GraphQueries, SimilarityQueries}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sc = spark.sparkContext
    def persisted(): Set[Int] = sc.getRDDStorageInfo.map(_.id).toSet
    def leaves(df: DataFrame): Set[Int] = df.queryExecution.analyzed.collectLeaves()
      .collect { case lr: LogicalRDD => lr.rdd.id }.toSet

    // the callers' checkpoints: a long-keyed canonical edge set, its
    // bidirected frame, PageRank's build tables, and Lloyd's vectors and seeds
    val e = ScaleGenerators.randomDF(spark, 100, 300).eagerCheckpoint()
    val bi = CCF.bidirect(e).eagerCheckpoint()
    val deg = CCF.bidirect(e).groupBy("src").agg(count(lit(1)).as("outdeg")).eagerCheckpoint()
    val outE = CCF.bidirect(e).join(deg, "src").eagerCheckpoint()
    val en = Seq.tabulate(40) { i =>
      val v = Seq(math.cos(i.toDouble), math.sin(i.toDouble), (i % 3).toDouble)
      (i.toLong, v, math.sqrt(v.map(x => x * x).sum))
    }.toDF("vec_id", "v", "nrm").eagerCheckpoint()
    val seeds = en.where(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("v").as("cv")).eagerCheckpoint()
    val callers = Seq(e, bi, deg, outE, en, seeds).flatMap(leaves).toSet

    val shuffled = spark.newSession()
    shuffled.conf.set(graft.Checkpoints.BroadcastBudgetKey, "0")
    val shuffledE = ScaleGenerators.randomDF(shuffled, 100, 300)
    val chain = Generators.chainGraph(200)
    def decimalChain = ScaleGenerators.chainLongDF(spark, 50)
      .select(col("src").cast("decimal(20,0)"), col("dst").cast("decimal(20,0)"))
    val cases: Seq[(String, () => DataFrame)] = Seq(
      // string chain 1000 hands round 11 from the driver to a declarative
      // round, whose checkpoint is read back onto the driver; chainDF's
      // input is also checkpointed at entry
      "CCF.run, driver-local input" -> { () =>
        val r = CCF.run(Generators.toDF(spark, Generators.chainGraph(1000)))
        assert(r.iterations === 13)
        r.assignments
      },
      "CCF.run, checkpointed input" -> { () =>
        val r = CCF.run(Generators.chainDF(spark, 1000))
        assert(r.iterations === 13)
        r.assignments
      },
      // decimal keys have no driver kernel: every round is declarative
      "CCF.run ending declaratively" -> (() => CCF.run(decimalChain).assignments),
      "PointerJump, broadcast rounds" -> (() =>
        PointerJump.run(Generators.toDF(spark, chain)).assignments),
      "PointerJump, shuffled rounds" -> (() =>
        PointerJump.run(Generators.toDF(shuffled, chain)).assignments),
      "lpaUntilStable" -> (() => GraphQueries.lpaUntilStable(bi, maxIters = 10).labels),
      "lpaOf, broadcast labels" -> (() => GraphQueries.lpaOf(bi, 3)),
      "lpaOf, shuffled labels" -> (() => GraphQueries.lpaOf(CCF.bidirect(shuffledE), 3)),
      "pagerankOf, parity step" -> (() =>
        GraphQueries.pagerankOf(e, 3, Some(GraphQueries.pagerankParityStep))),
      "pagerankOf, fast step" -> (() =>
        GraphQueries.pagerankOf(e, 3, Some(GraphQueries.pagerankFastStep))),
      "pagerankOf, shuffled ranks" -> (() => GraphQueries.pagerankOf(shuffledE, 3)),
      "pagerankCore over the caller's tables" -> (() => GraphQueries.pagerankCore(outE, deg, 3)),
      "Lloyd" -> (() => SimilarityQueries.lloydTrainEn(en, seeds, 3)))

    val failures = cases.flatMap { case (name, run) =>
      val before = persisted()
      val result = run()
      val left = sc.getRDDStorageInfo
        .filter(i => !before(i.id) && !leaves(result)(i.id))
        .map(i => s"${i.name} (${i.memSize} B)")
      val freed = callers.filterNot(persisted())
      Option.when(left.nonEmpty || freed.nonEmpty)(s"$name: left persisted " +
        s"[${left.mkString(", ")}], freed the caller's RDDs [${freed.mkString(", ")}]")
    }
    Seq(e, bi, deg, outE, en, seeds).foreach(graft.Checkpoints.free)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("iteration counts match the reference on chain graphs (BASELINE.md exp 2)") {
    // (n, expected iterations) from experiment_results_scala.csv rows 14-23
    for ((n, iters) <- Seq(10 -> 6, 50 -> 8, 100 -> 9)) {
      val r = CCF.run(Generators.toDF(spark, Generators.chainGraph(n)))
      assert(r.iterations === iters, s"chain n=$n")
      val r2 = CCF.run(Generators.toDF(spark, Generators.chainGraph(n)), CCF.SecondarySort)
      assert(r2.iterations === iters, s"chain n=$n secondary-sort")
    }
  }

  test("cluster graph invariant: 0 inter-edges => components == clusters") {
    val g = Generators.clusterGraph(nClusters = 5, nodesPerCluster = 20)
    val r = CCF.run(Generators.toDF(spark, g))
    assert(CCF.componentCount(r.assignments) === 5L)
  }

  test("random graph at reference density is one component") {
    val g = Generators.randomGraph(100, 300)
    val r = CCF.run(Generators.toDF(spark, g))
    assert(CCF.componentCount(r.assignments) === 1L)
  }

  test("variants agree on all three generator families") {
    val graphs = Seq(
      Generators.chainGraph(50),
      Generators.randomGraph(100, 300),
      Generators.clusterGraph(5, 20, interEdges = 4))
    for (g <- graphs) {
      val df = Generators.toDF(spark, g)
      val basic = CCF.run(df)
      val ss = CCF.run(df, CCF.SecondarySort)
      assert(asgn(basic) === asgn(ss))
      assert(basic.iterations === ss.iterations)
    }
  }

  test("SS fallback pin: non-streaming key types (decimal, date) agree with Basic") {
    // Key types outside {string, long, int} have no micro-engine kernel, so
    // both labels take the declarative path. Pin it for both: same
    // assignments, same round count, same column type out.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val longEdges = Seq((2L, 10L), (10L, 100L), (7L, 3L), (3L, 100L), (42L, 41L))
      .toDF("src", "dst")
    def day(c: org.apache.spark.sql.Column) =
      date_add(to_date(lit("2020-01-01")), c.cast("int"))
    val keyed = Seq(
      "decimal" -> longEdges.select(
        col("src").cast("decimal(20,2)"), col("dst").cast("decimal(20,2)")),
      "date" -> longEdges.select(day(col("src")).as("src"), day(col("dst")).as("dst")))
    for ((name, df) <- keyed) {
      val basic = CCF.run(df)
      val ss = CCF.run(df, CCF.SecondarySort)
      assert(basic.assignments.schema === ss.assignments.schema, name)
      assert(basic.assignments.collect().toSet === ss.assignments.collect().toSet, name)
      assert(basic.iterations === ss.iterations, name)
      assert(basic.assignments.schema("node").dataType.typeName.startsWith(name), name)
    }
  }
}
