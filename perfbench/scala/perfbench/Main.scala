package perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Times one workload in this JVM; see perfbench/README.md.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cores C --out DIR
  *
  * The last stdout line starting with `PERFBENCH_RESULT ` is the result. */
object Main {
  val ResultTag = "PERFBENCH_RESULT "

  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s", "fixpoint_s" -> "s")

  /** Per-layer metrics that every workload measures: the traced run prints
    * these. */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.idle_s" -> "s", "spark.slot_util" -> "ratio", "jvm.gc_s" -> "s",
    "catalyst.plan_s" -> "s", "catalyst.actions" -> "count", "checkpoints.jobs" -> "count",
    "ccf.rounds" -> "count", "ccf.new_pairs" -> "count", "ccf.jobs_per_round" -> "count") ++
    Workloads.Suite.families.map(f => s"queries.${f._1}.jobs" -> "count") ++ Seq(
    "trace.overhead" -> "ratio", "trace.wall_s" -> "s", "trace.op_self_s" -> "s",
    "trace.job_self_s" -> "s", "trace.stage_s" -> "s")

  /** Per-layer times that only one workload measures (0 on the other): they
    * go to the trace artifact only, so no printed time is 0 by construction. */
  val artifactLayer: Seq[(String, String)] =
    Seq("ccf.round_s" -> "s", "ccf.count_s" -> "s") ++
      Workloads.Suite.families.map(f => s"queries.${f._1}_s" -> "s") ++
      (("builds_s" -> "s") +: Workloads.Suite.Builds.map(b => s"builds.${b}_s" -> "s"))

  /** One pass: each operation's outcome, with its span if it was traced. */
  final case class Pass(ops: Seq[(OpRun, Option[Span])], builds: Map[String, Double]) {
    def runs: Seq[OpRun] = ops.map(_._1)
    def wallS: Double = runs.map(_.wallS).sum
    def fixpointS: Double = runs.map(_.fixpointS).sum
  }

  def opJson(r: OpRun, traced: Boolean): String = Json.obj(
    "name" -> Json.str(r.name), "family" -> Json.str(r.family), "traced" -> traced.toString,
    "wall_s" -> r.wallS.toString, "fixpoint_s" -> r.fixpointS.toString,
    "build_s" -> r.buildS.toString, "rounds" -> r.rounds.toString,
    "new_pairs" -> r.newPairs.toString, "engine" -> Json.str(r.engine),
    "error" -> r.error.map(Json.str).getOrElse("null"))

  def passJson(p: Pass): String = Json.obj(
    "wall_s" -> p.wallS.toString, "fixpoint_s" -> p.fixpointS.toString,
    "builds" -> Json.obj(p.builds.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*),
    "ops" -> Json.arr(p.ops.map { case (r, span) => opJson(r, span.nonEmpty) }))

  /** Collection time of all JVM collectors so far (the executors share
    * the driver's JVM in local mode). */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(cores: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val out = opts("out")
    val mainStartNs = System.nanoTime()
    val bootS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // Set-up, timed from JVM start: session, untimed warmup, inputs.
    val spark = session(cores, out)
    workload.warmup(spark)
    val ops = workload.prepare(spark, seed)
    val setupS = bootS + (System.nanoTime() - mainStartNs) / 1e9
    val sc = spark.sparkContext

    // Timed passes. The traced run traces every other operation, shifted
    // by one each pass, and runs an even number of passes: each operation is
    // then timed as often with the listeners as without, which gives the
    // tracing overhead on the same work.
    val recorder = new Recorder
    var opSeq = 0
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.isEmpty || (traced && passes.size % 2 == 1) || System.nanoTime() < deadline) {
      workload.beforePass(spark)
      val runs = ops.zipWithIndex.map { case (op, i) =>
        opSeq += 1
        val id = s"op-$opSeq"
        val tracedOp = traced && (passes.size + i) % 2 == 1
        var span: Option[Span] = None
        if (tracedOp) {
          Bus.drain(sc)
          sc.addSparkListener(recorder)
          spark.listenerManager.register(recorder)
        }
        val timed = new Timed {
          def apply[T](body: => T): T = {
            sc.setJobGroup(id, op.name)
            recorder.currentOp = id
            val gc0 = if (tracedOp) gcMs() else 0L
            val t0 = System.currentTimeMillis()
            try body
            finally {
              val t1 = System.currentTimeMillis()
              if (tracedOp) recorder.addGc(id, (gcMs() - gc0) / 1e3)
              sc.clearJobGroup()
              if (tracedOp) Bus.drain(sc)
              recorder.currentOp = ""
              if (tracedOp) span = Some(Span(id, "workload", "op", op.name, t0, t1))
            }
          }
        }
        val r = op.run(timed)
        if (tracedOp) {
          Bus.drain(sc)
          sc.removeSparkListener(recorder)
          spark.listenerManager.unregister(recorder)
        }
        r.error.foreach(e => System.err.println(s"[perfbench] ${op.name} FAILED: $e"))
        (r, span)
      }
      passes += Pass(runs, workload.afterPass(spark))
    }

    val all = passes.flatMap(_.runs)
    val failed = all.count(_.error.nonEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", median(passes.map(_.wallS).toSeq), "s"),
        ("fixpoint_s", median(passes.map(_.fixpointS).toSeq), "s"))
      else Layers.compute(passes.toSeq, recorder, cores, Main.perLayer)

    val record = Json.obj(
      "workload" -> Json.str(workload.name), "seed" -> seed.toString,
      "inputs" -> Json.str(workload.inputs), "seconds" -> seconds.toString,
      "trace" -> traced.toString, "cores" -> cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "setup_s" -> setupS.toString,
      "passes" -> Json.arr(passes.toSeq.map(passJson)),
      "attempted" -> all.size.toString, "failed" -> failed.toString,
      "fail_ratio" -> (failed.toDouble / math.max(1, all.size)).toString,
      "metrics" -> Json.metrics(metrics))
    Files.createDirectories(Paths.get(out))
    val tag = if (traced) "trace" else "result"
    Files.writeString(Paths.get(out, s"$tag-${workload.name}-seed$seed.json"),
      if (traced) Layers.artifact(record, passes.toSeq, recorder,
        metrics ++ Layers.compute(passes.toSeq, recorder, cores, artifactLayer))
      else record)

    spark.stop()
    println(ResultTag + Json.obj(
      "correct" -> (failed == 0).toString, "attempted" -> all.size.toString,
      "failed" -> failed.toString, "metrics" -> Json.metrics(metrics)))
  }
}

/** Wraps the timed part of an operation: sets its job group and records its
  * span. Checks run outside it. */
trait Timed { def apply[T](body: => T): T }

/** Minimal JSON writing; values are already-rendered JSON. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kvs: (String, String)*): String = kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj("value" -> v.toString, "unit" -> str(u)) }: _*)
}
