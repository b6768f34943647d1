package graft

import graft.Checkpoints.EagerOps
import graft.ccf.{CCF, Generators, PointerJump, ScaleGenerators}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Library entry points take data and return data: none of them writes the
  * caller's session conf, not even for the length of the call. A second
  * thread polls the confs these calls used to scope (AQE, whole-stage
  * codegen, shuffle partitions, the self-join ambiguity check) while they
  * run, and the session's full conf is compared before and after. */
class SessionConfSpec extends SparkSpec {

  private val watched = Seq("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage",
    "spark.sql.shuffle.partitions", "spark.sql.analyzer.failAmbiguousSelfJoin")

  test("library calls leave the caller's session conf untouched") {
    val s = spark.newSession()
    // reliable checkpoints: CCF.run takes the declarative loop, not the micro engine
    s.conf.set(Checkpoints.DirKey,
      java.nio.file.Files.createTempDirectory("graft-session-conf").toString)
    val before = s.conf.getAll
    val callerValues = watched.map(k => k -> s.conf.get(k)).toSet

    val seen = ConcurrentHashMap.newKeySet[(String, String)]()
    val stop = new AtomicBoolean(false)
    val poller = new Thread(() =>
      while (!stop.get()) {
        watched.foreach(k => seen.add(k -> s.conf.get(k)))
        Thread.sleep(1)
      })
    poller.setDaemon(true)
    poller.start()
    try {
      CCF.run(Generators.toDF(s, Generators.randomGraph(300, 600, seed = 7)))
        .assignments.count()
      PointerJump.run(Generators.chainDF(s, 2000)).assignments.count()
      val large = ScaleGenerators.randomDF(s, 20000, 60000)
      assert(CCF.bidirect(large).distinct().count() > 100000L)
      PointerJump.run(large).assignments.count()
      val dense = CCF.auto(Generators.toDF(s, Generators.randomGraph(200, 4000, seed = 3)))
      assert(dense.engine === "pj")
      dense.assignments.count()
      val handOff = CCF.auto(Generators.chainDF(s, 500))
      assert(handOff.engine === "ccf+pj")
      handOff.assignments.count()
      ScaleGenerators.chainLongDF(s, 100).repartition(col("src"))
        .eagerCheckpointKeepPartitioning().count()
      SparkEntry.queries("q8_rollup")(s, sf()).count()
    } finally {
      stop.set(true)
      poller.join()
    }
    assert(s.conf.getAll === before)
    assert(seen.asScala.toSet === callerValues)
  }
}
