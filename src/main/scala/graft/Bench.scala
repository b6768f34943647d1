package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local()
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // QUIET-WINDOW GATE (VERDICT r15 #2, second round running: the recorded
    // per-round JSON snapshotted a degraded host window — loadavg 4-6 —
    // while clean windows the same day read 2-9× faster on the affected
    // keys; the committed artifact is the diffable trail and should not
    // need prose to be read correctly). If the box is busy at invocation,
    // WAIT for it to drain before timing: poll until the 1-min loadavg
    // drops under SPARK_GRAFT_MAX_LOADAVG (default 3.0) or
    // SPARK_GRAFT_LOADAVG_WAIT_SEC (default 300) elapses — then record,
    // stamping both the invoke-time and start-of-timing loadavg so a run
    // that had to proceed degraded is self-evidencing.
    val loadAvgInvoke = loadAvg()
    // Default 2.0 (VERDICT r16 #1, third strike on artifact noise): the 3.0
    // default admitted a loadavg-2.84 window that recorded 2.5x phantom
    // regressions on the two slowest keys vs a loadavg-0.83 run the same day.
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_MAX_LOADAVG", "2.0").toDouble
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_LOADAVG_WAIT_SEC", "300").toInt
    val waitDeadline = System.nanoTime() + maxWaitSec * 1000000000L
    while (loadAvg() > maxLoad && System.nanoTime() < waitDeadline) {
      System.err.println(f"[bench] loadavg ${loadAvg()}%.2f > $maxLoad%.1f — " +
        "waiting for a quiet window (set SPARK_GRAFT_MAX_LOADAVG to tune)")
      Thread.sleep(10000)
    }
    if (loadAvg() > maxLoad)
      System.err.println(f"[bench] proceeding DEGRADED: loadavg ${loadAvg()}%.2f " +
        f"after ${maxWaitSec}s wait — timings below may be host-noise-inflated")
    // sampled BEFORE any work so it reflects the box as the timing found it
    val loadAvgStart = loadAvg()
    // Untimed warmup at the smallest scale: first-touch costs (parquet reader
    // init, codegen compiler, shuffle/broadcast machinery, JIT) are one-time
    // per JVM and land on whichever query happens to run first in the map's
    // arbitrary order — inflating that query's number by seconds while every
    // later query of the same shape runs 5-10x faster. Touch each subsystem
    // once so the timed numbers below are steady-state and order-insensitive
    // (same move as Experiments' untimed warmup; the reference harness's row 1
    // absorbs its warmup the same way and is excluded from its steady rows).
    val warm = sfDir.stripSuffix("/").replaceAll("sf[0-9.]+$", "sf0.001")
    if (warm == sfDir.stripSuffix("/")) {
      // No sf-suffix to rewrite (ADVICE r03): warming up at full scale would
      // silently ~double wall time — skip it and say so; first-query numbers
      // then include one-time JVM/codegen warmup.
      System.err.println(s"[bench] sfDir '$sfDir' has no sfN.NN suffix; skipping warmup")
    } else {
      System.err.println(s"[bench] warmup at $warm")
      for (q <- Seq("q3_join_agg", "e2_sessions", "t1_token_stats", "d3_minhash_lsh",
                    "s2_knn_lsh", "m1_binary_meta", "ccf_components"))
        try SparkEntry.queries(q)(spark, warm).count()
        catch { case _: Throwable => () }
    }
    // Dev loop: SPARK_GRAFT_ONLY=q1_agg,ccf_components times a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // Noise robustness (VERDICT r04 #3): one CPU-contention blip on a single
    // timing flipped a whole round's contract signal (a reproduced-0.5 s query
    // recorded at 34.6 s). Run the full suite SPARK_GRAFT_PASSES times (default
    // 2) in the same fixed order and report each query's MIN across passes.
    // Memoized derived tables (jaccard pairs, CCF assignments) are evicted at
    // the start of EVERY pass, so each pass re-pays fixpoint/build costs with
    // the same first-of-family attribution as a single run — a later pass's
    // cache hit can never masquerade as query time.
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    val qseq = selected.toSeq
    // Per-query times are reported NET of memoized shared builds (VERDICT r07
    // #2): whichever family member ran first used to absorb the family's
    // one-time build (CCF fixpoint, co-purchase edges, jaccard pairs) into its
    // own number, manufacturing phantom round-over-round regressions. Builds
    // are sampled around each query via SharedBuilds and reported as their own
    // "shared_builds" line items; query_time + its_builds = old attribution.
    val best = scala.collection.mutable.Map.empty[String, Double]
    val bestBuilds = scala.collection.mutable.Map.empty[String, Double]
    val perPass = scala.collection.mutable.Map.empty[String, List[Double]]
    def runPass(pass: String, keys: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]): Unit = {
      graft.queries.DedupQueries.clearCaches(spark)
      graft.queries.GraphQueries.clearCaches(spark)
      graft.queries.SimilarityQueries.clearCaches(spark)
      graft.queries.PipelineQueries.clearCaches(spark)
      graft.queries.SharedBuilds.reset()
      for ((name, fn) <- qseq if keys.contains(name)) {
        val b0 = graft.queries.SharedBuilds.accruedSeconds
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            // a failing query must be visible — and its time-to-failure must
            // NOT enter the min (a fast crash would mask a real pass timing)
            System.err.println(s"[bench] $name FAILED (pass $pass): ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        val builds = graft.queries.SharedBuilds.accruedSeconds - b0
        if (ok) {
          val net = math.max(0.0, dt - builds)
          perPass(name) = net :: perPass.getOrElse(name, Nil)
          val prev = best.getOrElse(name, Double.MaxValue)
          best(name) = if (prev < 0) net else math.min(prev, net)
        } else if (!best.contains(name)) best(name) = -1.0 // every pass failed
      }
      // min across passes per build, matching the per-query min semantics
      for ((b, t) <- graft.queries.SharedBuilds.snapshot)
        bestBuilds(b) = math.min(bestBuilds.getOrElse(b, Double.MaxValue), t)
    }
    for (pass <- 1 to passes) runPass(pass.toString, selected)
    // PASS-DELTA RERUN (VERDICT r16 #1, third strike on artifact noise):
    // min-of-2 inside ONE loaded window cannot see host noise — but the two
    // passes disagreeing CAN. A key whose passes differ >2x (above a 0.25 s
    // floor so sub-100ms jitter doesn't trigger it) was hit by a contention
    // blip on its faster pass's window or its slower one's — either way the
    // recorded min is suspect, so re-time those keys in up to two dedicated
    // extra passes (fresh cache state, same net-of-builds attribution) and
    // keep the overall min. Noisy = the recorded min is UNCORROBORATED (the
    // second-smallest pass is >2x the smallest) — a rerun landing near the
    // min clears the flag; keys still uncorroborated after the reruns are
    // stamped in the JSON under "noisy" so the artifact flags its own
    // residual noise instead of sending the reader to BENCH_NOTES.
    def noisyKeys: Seq[String] = perPass.collect {
      case (name, ts) if ts.size >= 2 && {
        val sorted = ts.sorted
        sorted.head > 0.25 && sorted(1) / sorted.head > 2.0
      } => name
    }.toSeq.sorted
    var reruns = 0
    while (noisyKeys.nonEmpty && reruns < 2) {
      reruns += 1
      val noisy = noisyKeys
      System.err.println(s"[bench] pass-delta >2x on ${noisy.mkString(",")} — " +
        s"re-timing (extra pass $reruns of 2)")
      runPass(s"rerun$reruns", selected.view.filterKeys(noisy.toSet).toMap)
    }
    val residualNoisy = noisyKeys
    val results = qseq.map { case (name, _) => name -> best(name) }
    def jmap(kvs: Seq[(String, Double)]) =
      kvs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Environment stamp (VERDICT r10 #5): heap, cpus, and the box's load
    // average at start-of-run, emitted on BOTH json lines so round-over-round
    // deltas are attributable without forensics (r9→r10's 1.07× uniform drift
    // took a manual 46-key diff + heap experiments to pin on the box).
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val noisyJson = residualNoisy.map("\"" + _ + "\"").mkString("[", ",", "]")
    val env = f""""env":{"heap_gb":$heapGb%.1f,"cpus":"$cpus",""" +
      s""""loadavg_invoke":$loadAvgInvoke,"loadavg_start":$loadAvgStart,""" +
      s""""noise_reruns":$reruns,"noisy":$noisyJson}"""
    val builds = bestBuilds.toSeq.sortBy(_._1)
    val buildTotal = builds.map(_._2).sum
    // headline total keeps its historical meaning (full suite wall cost):
    // net query time plus the shared builds those queries triggered
    val total = (if (results.nonEmpty) results.map(_._2).sum else 0.0) + buildTotal
    println(s"""{"metric":"detail","value":$total,"unit":"sec","queries":${jmap(results)},"shared_builds":${jmap(builds)},"sf":"$sfDir","passes":$passes,$env}""")
    // The full line above grows with the query count (83 queries outran the
    // driver's tail-capture window in r6 — BENCH_r06.json parsed: null). Emit
    // a SHORT self-contained summary line LAST — and make it the ONLY
    // "metric":"total" record (ADVICE r07: two identically-named records
    // double-count under metric-keyed aggregation) — so a bounded tail always
    // holds one complete parsable JSON record of the headline number.
    val slowest = jmap(results.sortBy(-_._2).take(5))
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"shared_builds_sec":$buildTotal,"slowest":$slowest,"sf":"$sfDir","passes":$passes,$env}""")
    spark.stop()
  }
}
