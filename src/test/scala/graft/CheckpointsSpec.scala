package graft

/** The round skeleton's metric read ([[Checkpoints.pollMetrics]]): a
  * bounded wait that never hangs and never kills a fixpoint over a metrics
  * race; and the broadcast byte budget ([[Checkpoints.broadcastable]],
  * [[Checkpoints.broadcastWithinBudget]]). */
class CheckpointsSpec extends SparkSpec {

  test("broadcastable: observed rows times the schema's row width, against the budget") {
    import org.apache.spark.sql.functions.col
    // (node, lab) tables of 16 B (long) and 40 B (string) per row
    def tables(s: org.apache.spark.sql.SparkSession) = {
      val longs = s.range(1).select(col("id").as("node"), col("id").as("lab"))
      (longs, longs.select(col("node").cast("string"), col("lab").cast("string")))
    }
    val (defaultLongs, _) = tables(spark.newSession())
    assert(Checkpoints.broadcastable(defaultLongs, 32L * 1000 * 1000)) // 512 MB
    assert(!Checkpoints.broadcastable(defaultLongs, 32L * 1000 * 1000 + 1))
    val s = spark.newSession()
    val (longs, strings) = tables(s)
    s.conf.set(Checkpoints.BroadcastBudgetKey, "1600")
    assert(Checkpoints.broadcastable(longs, 100))
    assert(!Checkpoints.broadcastable(longs, 101))
    assert(Checkpoints.broadcastable(strings, 40))
    assert(!Checkpoints.broadcastable(strings, 41))
    s.conf.set(Checkpoints.BroadcastBudgetKey, "0")
    assert(Checkpoints.broadcastable(longs, 0))
    assert(!Checkpoints.broadcastable(longs, 1))
  }

  test("broadcastWithinBudget: a broadcast hint exactly while broadcastable holds") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val s = spark.newSession()
    val longs = s.range(1).select(org.apache.spark.sql.functions.col("id").as("node"))
    s.conf.set(Checkpoints.BroadcastBudgetKey, "800")
    Checkpoints.broadcastWithinBudget(longs, 100).queryExecution.analyzed match {
      case h: ResolvedHint => assert(h.hints.strategy === Some(BROADCAST))
      case other => fail(s"expected a broadcast hint, got $other")
    }
    assert(Checkpoints.broadcastWithinBudget(longs, 101) eq longs)
  }

  /** The refusal a session with `value` under the budget key meets. */
  private def refused(value: String): IllegalArgumentException = {
    val s = spark.newSession()
    s.conf.set(Checkpoints.BroadcastBudgetKey, value)
    intercept[IllegalArgumentException](Checkpoints.broadcastable(s.range(1).toDF(), 1L))
  }

  test("broadcast budget: a non-numeric value is refused with the key's name") {
    val e = refused("512MB")
    assert(e.getMessage.contains(Checkpoints.BroadcastBudgetKey), e.getMessage)
    assert(e.getMessage.contains("512MB"), e.getMessage)
  }

  test("broadcast budget: a negative value is refused with the key's name") {
    val e = refused("-1")
    assert(e.getMessage.contains(Checkpoints.BroadcastBudgetKey), e.getMessage)
    assert(e.getMessage.contains("-1"), e.getMessage)
  }

  test("pollMetrics: a throwing read is retried, then delivered metrics win") {
    // VERDICT r11 #1: Observation.getOrEmpty can THROW (Row.schema() null
    // under concurrent metric delivery), not just return empty. A throwing
    // poll must behave exactly like not-yet-delivered: retry to deadline,
    // never propagate. Stub throws NPE twice, then delivers.
    var calls = 0
    val got = Checkpoints.pollMetrics({ () =>
      calls += 1
      if (calls <= 2) throw new NullPointerException("schema null (simulated race)")
      Map[String, Any]("newPair" -> java.lang.Long.valueOf(7L))
    }, "stub", deadlineMs = 5000L)(fail("fallback must not run: metrics arrived"))
    assert(got === Map("newPair" -> 7L))
    assert(calls === 3)
  }

  test("pollMetrics: a read that always throws takes the loud count() fallback") {
    var fellBack = false
    val got = Checkpoints.pollMetrics({ () =>
      throw new NullPointerException("schema null (simulated race)")
    }, "stub", deadlineMs = 50L) { fellBack = true; Map("newPair" -> 3L) }
    assert(got === Map("newPair" -> 3L))
    assert(fellBack)
  }

  test("pollMetrics: fatal errors are not swallowed") {
    // NonFatal only: an OOM mid-poll must propagate, not be retried into
    // a misleading metrics-timeout fallback.
    intercept[OutOfMemoryError] {
      Checkpoints.pollMetrics({ () => throw new OutOfMemoryError("simulated") },
        "stub", deadlineMs = 50L)(Map("n" -> 0L))
    }
  }
}
