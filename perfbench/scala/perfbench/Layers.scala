package perfbench

/** Per-layer metrics of a traced run, per pass, and the trace artifact.
  * Counts from the listeners come from the traced operations; as each
  * operation is traced in half of the passes, they are divided by half the
  * number of passes. */
object Layers {

  private val MB = 1024.0 * 1024.0

  /** The values of the `wanted` metrics, in order. */
  def compute(passes: Seq[Main.Pass], rec: Recorder, cores: Int,
              wanted: Seq[(String, String)]): Seq[(String, Double, String)] = {
    val all = passes.flatMap(_.ops)
    val ops = all.collect { case (r, Some(s)) => (s, r) }
    // every operation is traced in half of the passes
    val n = passes.size / 2.0
    val perPass = passes.size.toDouble
    def c(id: String) = rec.counts.getOrElse(id, new rec.Counts)
    def sum(f: rec.Counts => Double, keep: OpRun => Boolean = _ => true): Double =
      ops.collect { case (s, r) if keep(r) => f(c(s.id)) }.sum / n

    val wallS = ops.map(_._2.wallS).sum / n
    val untracedWallS = all.collect { case (r, None) => r.wallS }.sum / n
    val taskS = sum(_.taskS)
    val tasksByOp = rec.taskIntervals.groupBy(_._1)
    val idleS = ops.map { case (s, _) =>
      val iv = tasksByOp.getOrElse(s.id, Nil).map(t => (t._2, t._3))
      s.durS - Trace.covered(iv, s.startMs, s.endMs) / 1e3
    }.sum / n

    // CCFResult fields and timers do not depend on tracing: all passes
    val ccfRuns = passes.flatMap(_.runs).filter(_.family == "ccf")
    val rounds = ccfRuns.map(_.rounds).sum / perPass
    val tracedRounds = ops.collect { case (_, r) if r.family == "ccf" => r.rounds }.sum / n
    val spans = allSpans(passes, rec)
    val self = Trace.selfTimes(spans)
    def selfOf(kind: String) = spans.filter(_.kind == kind).map(s => self(s.id)).sum / n

    val builds = passes.flatMap(_.builds).groupMapReduce(_._1)(_._2)(_ + _).view.mapValues(_ / perPass).toMap
    val family = Workloads.Suite.families.map(_._1).flatMap { f =>
      Seq(s"queries.$f.jobs" -> sum(_.jobs.toDouble, _.family == f),
        s"queries.${f}_s" ->
          passes.flatMap(_.runs).filter(_.family == f).map(r => r.wallS - r.buildS).sum / perPass)
    }
    val values = Map(
      "spark.jobs" -> sum(_.jobs.toDouble), "spark.stages" -> sum(_.stages.toDouble),
      "spark.tasks" -> sum(_.tasks.toDouble), "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> sum(_.cpuS), "jvm.gc_s" -> sum(_.gcS),
      "spark.shuffle_write_mb" -> sum(_.shuffleWriteB / MB),
      "spark.shuffle_read_mb" -> sum(_.shuffleReadB / MB),
      "spark.spill_mb" -> sum(_.spillB / MB), "spark.idle_s" -> idleS,
      "spark.slot_util" -> taskS / (wallS * cores),
      "catalyst.plan_s" -> sum(_.planS), "catalyst.actions" -> sum(_.actions.toDouble),
      "checkpoints.jobs" -> sum(_.checkpointJobs.toDouble),
      "ccf.rounds" -> rounds,
      "ccf.new_pairs" -> ccfRuns.map(_.newPairs.toDouble).sum / perPass,
      "ccf.round_s" -> (if (rounds > 0) ccfRuns.map(_.fixpointS).sum / perPass / rounds else 0.0),
      "ccf.jobs_per_round" ->
        (if (tracedRounds > 0) sum(_.jobs.toDouble, _.family == "ccf") / tracedRounds else 0.0),
      "ccf.count_s" -> ccfRuns.map(_.countS).sum / perPass,
      "builds_s" -> builds.values.sum,
      "trace.overhead" -> wallS / untracedWallS,
      "trace.wall_s" -> wallS,
      "trace.op_self_s" -> selfOf("op"), "trace.job_self_s" -> selfOf("job"),
      "trace.stage_s" -> selfOf("stage")
    ) ++ family ++ Workloads.Suite.Builds.map(b => s"builds.${b}_s" -> builds.getOrElse(b, 0.0))
    wanted.map { case (name, unit) =>
      val v = values(name)
      (name, if (v.isNaN || v.isInfinite) 0.0 else v, unit)
    }
  }

  /** Spans of the traced operations and the jobs and stages under them,
    * under one workload span. */
  def allSpans(passes: Seq[Main.Pass], rec: Recorder): Seq[Span] = {
    val ops = passes.flatMap(_.ops.flatMap(_._2))
    if (ops.isEmpty) return Nil
    val ids = ops.map(_.id).toSet
    val jobs = rec.jobSpans.filter(j => ids.contains(j.parent)).toSeq
    val jobIds = jobs.map(_.id).toSet
    val stages = rec.stageSpans.filter(s => jobIds.contains(s.parent)).toSeq
    Span("workload", "", "workload", "workload", ops.map(_.startMs).min, ops.map(_.endMs).max) +:
      (ops ++ jobs ++ stages)
  }

  /** The trace artifact: the run record, every span with its self time, all
    * layer metrics (printed and artifact-only), and the ones this workload
    * does not exercise (reported as 0): `ccf.*` without CCF operations,
    * `queries.*` of families it does not run, and builds that never fired. */
  def artifact(record: String, passes: Seq[Main.Pass], rec: Recorder,
               metrics: Seq[(String, Double, String)]): String = {
    val spans = allSpans(passes, rec)
    val self = Trace.selfTimes(spans)
    val runs = passes.flatMap(_.runs)
    val families = runs.map(_.family).toSet
    val builds = passes.flatMap(_.builds.keys).toSet
    def collected(name: String): Boolean =
      if (name.startsWith("ccf.")) families.contains("ccf")
      else if (name.startsWith("queries.")) families.exists(f => name.startsWith(s"queries.$f"))
      else if (name == "builds_s") builds.nonEmpty
      else if (name.startsWith("builds.")) builds.exists(b => name == s"builds.${b}_s")
      else true
    val notCollected = metrics.map(_._1).filterNot(collected).map(Json.str)
    Json.obj(
      "run" -> record,
      "tracing_overhead" -> metrics.find(_._1 == "trace.overhead").map(_._2.toString).getOrElse("null"),
      "layers" -> Json.metrics(metrics),
      "not_collected" -> Json.arr(notCollected),
      "spans" -> Json.arr(spans.map(s => Json.obj(
        "id" -> Json.str(s.id), "parent" -> Json.str(s.parent), "kind" -> Json.str(s.kind),
        "name" -> Json.str(s.name), "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "self_s" -> self(s.id).toString))))
  }
}
