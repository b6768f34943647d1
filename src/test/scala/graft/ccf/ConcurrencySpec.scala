package graft.ccf

import graft.SparkSpec
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Library calls never write the session conf (SessionConfSpec), so
  * concurrent calls are safe both on separate `newSession()`s and on one
  * shared session. Every concurrent result must equal its serial run.
  *
  * The separate-session test's `CCF.run` input (chain 120) stays below
  * [[MicroFixpoint.FusedRows]], so every round runs on the driver; the
  * same-session test sets `spark.graft.checkpointDir`, which runs every
  * round of `CCF.run` declaratively. */
class ConcurrencySpec extends SparkSpec {

  test("concurrent fixpoints on separate sessions produce serial results") {
    val g1 = Generators.chainGraph(120)
    val g2 = Generators.randomGraph(150, 400, seed = 5)
    val serial1 = CCF.run(Generators.toDF(spark, g1)).assignments.collect().toSet
    val serial2 = CCF.run(Generators.toDF(spark, g2)).assignments.collect().toSet

    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val f1 = Future(CCF.run(Generators.toDF(s1, g1)).assignments.collect().toSet)
    val f2 = Future(PointerJump.run(Generators.toDF(s2, g2)).assignments.collect().toSet)
    val (r1, r2) = (Await.result(f1, 120.seconds), Await.result(f2, 120.seconds))
    assert(r1 === serial1)
    assert(r2 === serial2)
  }

  test("declarative CCF loop, PointerJump and q8_rollup in parallel on one session equal their serial runs") {
    val s = spark.newSession()
    s.conf.set(graft.Checkpoints.DirKey,
      java.nio.file.Files.createTempDirectory("graft-same-session").toString)
    val before = s.conf.getAll
    def fixpoint(r: CCF.CCFResult) =
      (r.assignments.collect().toSet, r.iterations, r.newPairsHistory, r.converged)
    def ccf() = fixpoint(CCF.run(Generators.toDF(s, Generators.randomGraph(300, 600, seed = 11))))
    def pj() = fixpoint(PointerJump.run(Generators.chainDF(s, 2000)))
    def q8() = graft.SparkEntry.queries("q8_rollup")(s, sf()).collect().toSet

    val serial = (ccf(), pj(), q8())
    val (f1, f2, f3) = (Future(ccf()), Future(pj()), Future(q8()))
    val parallel = (Await.result(f1, 300.seconds), Await.result(f2, 300.seconds),
      Await.result(f3, 300.seconds))
    assert(parallel._1 === serial._1)
    assert(parallel._2 === serial._2)
    assert(parallel._3 === serial._3)
    assert(s.conf.getAll === before)
  }
}
