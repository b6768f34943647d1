package graft.ccf

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Scale-shape smoke tests: the distributed generators + CCF on graphs well
  * past the reference's sizes (its largest run is 15k edges, driver-side).
  * Bounded here to keep the suite fast; the same code path extends to any n
  * (spark.range + hash sampling, O(1) driver memory). */
class ScaleSpec extends SparkSpec {

  test("distributed chain: 2k nodes (numeric keys) converges with O(log d) iterations") {
    // chains are CCF's intermediate-data worst case (pair sets double per
    // round — see CCF scaladoc), so the scale knob here is deliberately
    // modest; the random-graph test below is the realistic-topology scale run
    val r = CCF.run(ScaleGenerators.chainLongDF(spark, 2000))
    assert(r.converged)
    assert(r.iterations >= 12 && r.iterations <= 18, r.iterations.toString)
    assert(CCF.componentCount(r.assignments) === 1L)
  }

  test("distributed random graph: 50k edges, deterministic, converges") {
    val g = ScaleGenerators.randomDF(spark, 10000, 50000)
    val edgeCount = g.count()
    assert(edgeCount > 40000) // distinct-sampled, close to requested
    assert(ScaleGenerators.randomDF(spark, 10000, 50000).count() === edgeCount) // deterministic
    val r = CCF.run(g)
    assert(r.converged)
    // at density ~5 edges/node a random graph is 1 giant component whp
    assert(CCF.componentCount(r.assignments) === 1L)
  }

  test("pointer jumping agrees with CCF (fig5 + random graph)") {
    val fig5 = Generators.toDF(spark, Seq(
      "A" -> "B", "B" -> "D", "D" -> "E", "A" -> "C", "A" -> "E", "F" -> "G", "F" -> "H"))
    assert(PointerJump.run(fig5).assignments.collect().toSet ===
      CCF.run(fig5).assignments.collect().toSet)
    val g = Generators.toDF(spark, Generators.randomGraph(500, 600, seed = 7))
    assert(PointerJump.run(g).assignments.collect().toSet ===
      CCF.run(g).assignments.collect().toSet)
  }

  test("pointer jumping: 20k-node STRING chain (CCF's blowup case) converges fast") {
    // CCF on this graph peaks at ~40M intermediate pairs (scaladoc caveat);
    // pointer jumping keeps per-round state at exactly n label rows.
    val t0 = System.nanoTime()
    val r = PointerJump.run(Generators.chainDF(spark, 20000))
    assert(r.converged)
    // lexicographic min of "0".."19999" is "0"; every other node maps to it
    assert(r.assignments.where(col("component") === "0").count() === 19999L)
    assert(r.assignments.count() === 19999L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, f"took $secs%.1f s")
  }

  test("auto: 20k-node STRING chain switches to pointer jumping, no caller hint") {
    // VERDICT r05 #4: the blowup detector must rescue CCF's pathological shape
    // in PJ-like time. Pure CCF here peaks at ~40M intermediate pairs and runs
    // minutes; auto caps the CCF phase at ~4 cheap doubling rounds.
    val t0 = System.nanoTime()
    val r = CCF.auto(Generators.chainDF(spark, 20000))
    assert(r.converged)
    assert(r.assignments.where(col("component") === "0").count() === 19999L)
    assert(r.assignments.count() === 19999L)
    // history = CCF rounds then PJ changed-counts; the switch must have fired
    // well before CCF's ~17-round full fixpoint inflated the pair set
    assert(r.engine === "ccf+pj")
    assert(r.iterations < 30, s"iterations=${r.iterations}")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 45.0, f"took $secs%.1f s")
  }

  test("auto: short-diameter sparse graph stays on CCF and matches CCF.run exactly") {
    val g = Generators.toDF(spark, Generators.randomGraph(500, 600, seed = 7))
    val plain = CCF.run(g)
    val auto = CCF.auto(g)
    // no switch: same round count and per-round NewPair history as plain CCF
    assert(auto.engine === "ccf")
    assert(auto.iterations === plain.iterations)
    assert(auto.newPairsHistory === plain.newPairsHistory)
    assert(auto.assignments.collect().toSet === plain.assignments.collect().toSet)
  }

  test("auto: budget exhausted at the switch point honors maxIterations exactly") {
    // chain keys are strings (sparse route); at the default detector the
    // chain's rounds 4 and 5 emit more than 8x its 499 input pairs, so the
    // switch fires at iteration 5 (measured on both engines; CCFPropertySpec
    // pins the history around it). Capping at 5 leaves PointerJump zero
    // budget. The cap must hold: no bonus rounds, converged=false, run()'s
    // unconverged output contract.
    val switchRound = 5
    val r = CCF.auto(Generators.chainDF(spark, 500), maxIterations = switchRound)
    assert(!r.converged)
    assert(r.iterations === switchRound)
    assert(r.engine === "ccf")
    assert(r.newPairsHistory.length === switchRound)
    assert(r.assignments.columns.toSeq === Seq("node", "component"))
    // the capped result holds each pair once, the same set run()'s cap returns
    val rows = r.assignments.collect().toSeq
    assert(rows.size === rows.distinct.size)
    val capped = CCF.run(Generators.chainDF(spark, 500), maxIterations = switchRound)
    assert(rows.toSet === capped.assignments.collect().toSet)
    // and with one round of slack the switch still restarts within budget
    val r1 = CCF.auto(Generators.chainDF(spark, 500), maxIterations = switchRound + 1)
    assert(r1.engine === "ccf+pj")
    assert(r1.iterations <= switchRound + 1)
  }

  test("auto: dense graph routes straight to pointer jumping, same answer") {
    // mean degree 2*3000/100 = 60 >> 16: CCF's re-emit would amplify every
    // hub neighborhood per round; the upfront density estimate must route to
    // the n-row label table without running a single CCF round
    val g = Generators.toDF(spark, Generators.randomGraph(100, 3000, seed = 11))
    val auto = CCF.auto(g)
    assert(auto.engine === "pj")
    assert(auto.converged)
    assert(auto.assignments.collect().toSet === CCF.run(g).assignments.collect().toSet)
  }
}
