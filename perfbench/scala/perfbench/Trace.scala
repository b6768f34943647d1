package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A span: workload -> operation -> job -> stage. Times are epoch ms, as
  * Spark's listener events carry them. */
final case class Span(id: String, parent: String, kind: String, name: String,
                      startMs: Long, endMs: Long) {
  def durS: Double = (endMs - startMs) / 1e3
}

/** Records, from Spark's public listener APIs, what each operation cost in
  * every layer below the benchmark. The benchmark sets the job group of each
  * operation to the operation's span id, and drains the listener bus before
  * the next operation starts, so every event is attributed to one operation.
  * Everything stays in memory until the run ends. */
final class Recorder extends SparkListener with QueryExecutionListener {

  final class Counts {
    var jobs, stages, tasks, checkpointJobs, actions = 0L
    var taskS, cpuS, gcS, planS = 0.0 // gcS: JVM collection time, set by addGc
    var shuffleWriteB, shuffleReadB, spillB = 0L
  }

  val counts = mutable.Map.empty[String, Counts]
  val jobSpans = mutable.ArrayBuffer.empty[Span]
  val stageSpans = mutable.ArrayBuffer.empty[Span]
  /** (op span id, launch ms, finish ms) of every task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  @volatile var currentOp: String = ""

  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageJob = mutable.Map.empty[Int, Int]

  private def of(op: String) = counts.getOrElseUpdate(op, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(currentOp)
    // the job's call site is the name of its final stage; its stack shows
    // which library code started the job
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val site = last.map(_.name).getOrElse("")
    val stack = last.map(_.details).getOrElse("")
    jobGroup(e.jobId) = group
    jobStart(e.jobId) = (e.time, site)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    val c = of(group)
    c.jobs += 1
    if (stack.contains("graft.Checkpoints") || site.toLowerCase.contains("checkpoint")) c.checkpointJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for ((t0, site) <- jobStart.remove(e.jobId))
      jobSpans += Span(s"job-${e.jobId}", jobGroup.getOrElse(e.jobId, ""), "job", site, t0, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val job = stageJob.getOrElse(info.stageId, -1)
    of(jobGroup.getOrElse(job, currentOp)).stages += 1
    for (t0 <- info.submissionTime; t1 <- info.completionTime)
      stageSpans += Span(s"stage-${info.stageId}.${info.attemptNumber()}", s"job-$job", "stage",
        info.name, t0, t1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val group = jobGroup.getOrElse(stageJob.getOrElse(e.stageId, -1), currentOp)
    val c = of(group)
    c.tasks += 1
    taskIntervals += ((group, e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.taskS += m.executorRunTime / 1e3
      c.cpuS += m.executorCpuTime / 1e9
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def addGc(op: String, seconds: Double): Unit = synchronized { of(op).gcS += seconds }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val c = of(currentOp)
    c.actions += 1
    c.planS += qe.tracker.phases.values.map(_.durationMs).sum / 1e3
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}

object Trace {

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    for ((a0, b0) <- intervals.toSeq.sortBy(_._1)) {
      val a = math.max(a0, end)
      val b = math.min(b0, hi)
      if (b > a) { total += b - a; end = b }
    }
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s.id -> (s.durS - covered(kids, s.startMs, s.endMs) / 1e3)
    }.toMap
  }
}
