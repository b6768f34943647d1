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
    // string chain 1000 hands round 11 from the driver to a declarative
    // round, whose checkpoint is read back onto the driver; chainDF's input
    // is also checkpointed at entry
    val sc = spark.sparkContext
    for ((name, input) <- Seq("driver-local input" -> Generators.toDF(spark, Generators.chainGraph(1000)),
        "checkpointed input" -> Generators.chainDF(spark, 1000))) {
      val before = sc.getRDDStorageInfo.map(_.id).toSet
      val r = CCF.run(input)
      assert(r.iterations === 13, name)
      val left = sc.getRDDStorageInfo.filterNot(i => before(i.id))
      assert(left.isEmpty, s"$name: ${left.map(i => s"${i.name} (${i.memSize} B)").mkString(", ")}")
    }
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

  test("pollMetrics: a throwing read is retried, then delivered metrics win") {
    // VERDICT r11 #1: Observation.getOrEmpty can THROW (Row.schema() null
    // under concurrent metric delivery), not just return empty. A throwing
    // poll must behave exactly like not-yet-delivered: retry to deadline,
    // never propagate. Stub throws NPE twice, then delivers.
    var calls = 0
    val got = CCF.pollMetrics({ () =>
      calls += 1
      if (calls <= 2) throw new NullPointerException("schema null (simulated race)")
      Map[String, Any]("newPair" -> java.lang.Long.valueOf(7L))
    }, "stub", deadlineMs = 5000L)(fail("fallback must not run: metrics arrived"))
    assert(got === Map("newPair" -> 7L))
    assert(calls === 3)
  }

  test("pollMetrics: a read that always throws takes the loud count() fallback") {
    var fellBack = false
    val got = CCF.pollMetrics({ () =>
      throw new NullPointerException("schema null (simulated race)")
    }, "stub", deadlineMs = 50L) { fellBack = true; Map("newPair" -> 3L) }
    assert(got === Map("newPair" -> 3L))
    assert(fellBack)
  }

  test("pollMetrics: fatal errors are not swallowed") {
    // NonFatal only: an OOM mid-poll must propagate, not be retried into
    // a misleading metrics-timeout fallback.
    intercept[OutOfMemoryError] {
      CCF.pollMetrics({ () => throw new OutOfMemoryError("simulated") },
        "stub", deadlineMs = 50L)(Map("n" -> 0L))
    }
  }
}
