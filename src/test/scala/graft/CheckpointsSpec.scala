package graft

/** The round skeleton's metric read ([[Checkpoints.pollMetrics]]): a
  * bounded wait that never hangs and never kills a fixpoint over a metrics
  * race. */
class CheckpointsSpec extends org.scalatest.funsuite.AnyFunSuite {

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
