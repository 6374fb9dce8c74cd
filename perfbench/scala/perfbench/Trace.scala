package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans plus the Spark events a traced run collects.
  *
  * Call spans come from the benchmark's own calls ([[Trace.span]]).
  * Jobs, stages, Catalyst phases and stream batches come from listener
  * events; [[Trace.finish]] nests each under the innermost call span
  * that was open when it started. Times are epoch milliseconds. */
object Trace {
  final case class Span(id: Long, var parent: Long, name: String, kind: String,
      start: Double, var end: Double, attrs: Map[String, Any] = Map.empty)

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val runId: String = java.util.UUID.randomUUID().toString
  @volatile var enabled = false
  private val spans = ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var nextId = 0L

  private def add(parent: Long, name: String, kind: String, start: Double, end: Double,
      attrs: Map[String, Any]): Span = spans.synchronized {
    nextId += 1
    val s = Span(nextId, parent, name, kind, start, end, attrs)
    spans += s
    s
  }

  /** Times `body` as a child of the innermost open span. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = add(open.headOption.map(_.id).getOrElse(0L), name, kind, nowMs, Double.NaN, Map.empty)
      open = s :: open
      try body finally { s.end = nowMs; open = open.tail }
    }

  // ---- collected events

  final case class Task(stage: Int, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      schedDelayMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      input: Long, peakMem: Long)
  final case class Stage(id: Int, attempt: Int, submit: Long, complete: Long, tasks: Int)
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Phase(name: String, start: Long, end: Long)
  final case class Planned(time: Long, phases: Seq[Phase], planNodes: Int)
  final case class Batch(start: Long, durations: Map[String, Long], stateRows: Long,
      stateBytes: Long, stateCommitMs: Long)

  val tasks = ArrayBuffer[Task]()
  val stages = ArrayBuffer[Stage]()
  val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  val planned = ArrayBuffer[Planned]()
  val batches = ArrayBuffer[Batch]()

  object Collector extends SparkListener with QueryExecutionListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += Stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(-1L),
        i.completionTime.getOrElse(-1L), i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m != null) {
        val delay = math.max(0L, ti.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (ti.gettingResult) ti.finishTime - ti.gettingResultTime else 0L))
        tasks += Task(e.stageId, ti.finishTime, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, delay, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.peakExecutionMemory)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => synchronized {
        val pr = p.progress
        val ops = pr.stateOperators.toSeq
        batches += Batch(java.time.Instant.parse(pr.timestamp).toEpochMilli,
          pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum)
      }
      case _ => ()
    }
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.toSeq.collect {
        case (n, s) if n != "parsing" => Phase(n, s.startTimeMs, s.endTimeMs)
      }
      var nodes = 0
      qe.optimizedPlan.foreachWithSubqueries(_ => nodes += 1)
      synchronized { planned += Planned(ph.map(_.start).minOption.getOrElse(0L), ph, nodes) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Execution totals over the events that happened in [from, to). */
  def window(from: Double, to: Double, cores: Int): Map[String, Double] = Collector.synchronized {
    def in(t: Long) = t >= from && t < to
    val ts = tasks.filter(t => in(t.finish))
    val ss = stages.filter(s => in(s.complete))
    val ps = planned.filter(p => in(p.time))
    val mb = 1024.0 * 1024.0
    def phase(n: String) = ps.flatMap(_.phases).filter(_.name == n).map(p => p.end - p.start).sum / 1e3
    val runS = ts.map(_.runMs).sum / 1e3
    Map(
      "jobs" -> jobs.values.count(j => in(j.start)).toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "task_run_s" -> runS,
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "sched_delay_s" -> ts.map(_.schedDelayMs).sum / 1e3,
      "busy_frac" -> (if (to > from) runS / ((to - from) / 1e3 * cores) else 0.0),
      "single_task_stage_s" -> ss.filter(_.tasks == 1).map(s => s.complete - s.submit).sum / 1e3,
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spill_mb" -> ts.map(_.spill).sum / mb,
      "input_mb" -> ts.map(_.input).sum / mb,
      "peak_exec_mem_mb" -> ts.map(_.peakMem).maxOption.getOrElse(0L) / mb,
      "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "plan_nodes" -> ps.map(_.planNodes).sum.toDouble)
  }

  /** All spans, listener-derived ones nested under the call spans. */
  def finish(): Seq[Span] = spans.synchronized {
    val calls = spans.toVector
    def innermost(t: Double): Long = calls
      .filter(s => s.start <= t && (s.end.isNaN || t < s.end))
      .sortBy(-_.start).headOption.map(_.id).getOrElse(0L)
    Collector.synchronized {
      val jobSpan = jobs.values.map { j =>
        j.id -> add(innermost(j.start.toDouble), s"job ${j.id}", "job", j.start.toDouble,
          (if (j.end < 0) j.start else j.end).toDouble, Map("stages" -> j.stages.size))
      }.toMap
      val stageJob = jobs.values.flatMap(j => j.stages.map(_ -> j.id)).toMap
      stages.foreach { s =>
        add(stageJob.get(s.id).flatMap(jobSpan.get).map(_.id).getOrElse(innermost(s.submit.toDouble)),
          s"stage ${s.id}.${s.attempt}", "stage", s.submit.toDouble, s.complete.toDouble,
          Map("tasks" -> s.tasks))
      }
      planned.foreach(p => p.phases.foreach { ph =>
        add(innermost(ph.start.toDouble), ph.name, "catalyst", ph.start.toDouble, ph.end.toDouble,
          Map("plan_nodes" -> p.planNodes))
      })
      batches.foreach { b =>
        val end = b.start + b.durations.getOrElse("triggerExecution", 0L)
        add(innermost(b.start.toDouble), "micro-batch", "stream", b.start.toDouble, end.toDouble,
          b.durations)
      }
    }
    spans.toVector
  }
}
