package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Drains Spark's asynchronous listener bus so every event of the item
  * that just finished is delivered before the item is closed. The drain
  * method is `private[spark]` (public in bytecode); if it ever vanishes
  * the drain is a no-op and attribution degrades to ±1 item. */
final class BusDrain(sc: SparkContext) {
  private val drain: () => Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val m = bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      () => try { m.invoke(bus, java.lang.Long.valueOf(30000L)); () }
        catch { case NonFatal(_) => () }
    } catch { case NonFatal(_) => () => () }
  def apply(): Unit = drain()
}

/** Task input counter, registered in every run: the untraced run needs
  * the bytes its timed reads consumed (scan or cache) for
  * `input_mb_per_s`, and nothing else. */
final class InputCounter extends SparkListener {
  val bytes = new AtomicLong(0L)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
}

/** The traced run's recorder. It observes Spark from outside through a
  * `SparkListener` (jobs, stages, tasks, SQL executions, AQE re-plans)
  * and a `QueryExecutionListener` (Catalyst phase times per action),
  * keeps spans query → action (SQL execution) → job → stage in memory, and hands the
  * harness one metric map per closed item. Items run one at a time and
  * the bus is drained before [[close]], so every event received between
  * [[open]] and [[close]] belongs to the open item. */
final class Tracer(cores: Int) extends SparkListener with QueryExecutionListener {
  private final case class Job(start: Long, var end: Long, exec: Option[Long],
      stages: Seq[Int])
  private final case class Stage(job: Int, name: String, submit: Long,
      complete: Long, tasks: Int, runMs: Long, cpuNs: Long)
  private final case class Action(func: String, ok: Boolean,
      phases: Seq[(String, Long, Long)])

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val stageJob = mutable.Map[Int, Int]()
  private val sqlSpans = mutable.LinkedHashMap[Long, (Long, Long)]()
  private val actions = mutable.ArrayBuffer[Action]()
  private var aqe = 0
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var peakMem = 0L

  /** Finished spans, one JSON object each, written when the run ends. */
  val spans = mutable.ArrayBuffer[String]()
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }

  private def add(k: String, v: Double): Unit = sums(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(s => s.toLongOption)
    jobs(e.jobId) = Job(e.time, e.time, exec, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      stages += Stage(stageJob.getOrElse(i.stageId, -1), i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.executorCpuTime).getOrElse(0L))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    add("scheduler.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      add("executor.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("executor.shuffle_write_s", m.shuffleWriteMetrics.writeTime / 1e9)
      add("executor.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("executor.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      add("storage.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("storage.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("storage.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlSpans(s.executionId) = (s.time, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        sqlSpans.get(s.executionId).foreach { case (a, _) =>
          sqlSpans(s.executionId) = (a, s.time) }
      case _: SparkListenerSQLAdaptiveExecutionUpdate => aqe += 1
      case _ =>
    }
  }

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit =
    lock.synchronized {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) =>
        (n, p.startTimeMs, p.endTimeMs) }
      actions += Action(func, ok, phases)
    }
  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    record(func, qe, ok = true)
  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
    record(func, qe, ok = false)

  /** Starts a new item: drops whatever the previous sweep left behind. */
  def open(): Unit = lock.synchronized {
    jobs.clear(); stages.clear(); stageJob.clear(); sqlSpans.clear()
    actions.clear(); aqe = 0; sums.clear(); peakMem = 0L
  }

  /** Total length of the union of `[start, end]` intervals, in seconds. */
  private def union(xs: Seq[(Long, Long)]): Double = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { total += math.max(0L, ce - cs); cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    total += math.max(0L, ce - cs)
    total / 1e3
  }

  /** Closes the open item, which ran from `startMs` to `endMs` (epoch
    * ms), and returns its layer metrics and accounting. `item` and
    * `pass` label its spans. */
  def close(item: String, pass: Int, startMs: Long, endMs: Long)
      : mutable.LinkedHashMap[String, Any] = lock.synchronized {
    val wall = (endMs - startMs) / 1e3
    val phaseIv = actions.toSeq.flatMap(_.phases.map(p => (p._2, p._3)))
    def phase(n: String) =
      actions.map(_.phases.filter(_._1 == n).map(p => (p._3 - p._2) / 1e3).sum).sum
    val jobIv = jobs.values.toSeq.map(j => (j.start, j.end))
    val planS = union(phaseIv)
    val jobS = union(jobIv)
    val coveredS = union(phaseIv ++ jobIv)
    val runS = sums("executor.run_s")
    // executor work expressed as wall time on `cores` slots; the rest of
    // the job intervals is scheduling, and the rest of the wall time is
    // driver work between jobs
    val execS = math.min(jobS, runS / cores)
    val gapS = wall - coveredS
    val schedS = (jobS - execS) + math.max(0.0, wall - coveredS)
    val label =
      if (planS >= schedS && planS >= execS) "planning"
      else if (execS >= schedS) "executor" else "scheduling"
    // the three clocks (harness wall, tracker phases, job events) are
    // independent; the item's parts must fit inside its wall time
    val tol = 0.05 * wall + 0.02
    val inside = (phaseIv ++ jobIv).forall { case (a, b) =>
      a >= startMs - 20 && b <= endMs + 20 }
    val ok = inside && coveredS <= wall + tol

    val out = mutable.LinkedHashMap[String, Any](
      "catalyst.actions" -> actions.size.toDouble,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.aqe_replans" -> aqe.toDouble,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> sums("scheduler.tasks"),
      "scheduler.job_s" -> jobS,
      "scheduler.driver_gap_s" -> (wall - jobS))
    Seq("executor.run_s", "executor.cpu_s", "executor.gc_s",
      "executor.shuffle_write_mb", "executor.shuffle_write_s",
      "executor.fetch_wait_s", "executor.spill_mb", "storage.input_mb",
      "storage.input_rows", "storage.output_mb").foreach(k => out(k) = sums(k))
    out("executor.peak_mem_mb") = peakMem / 1048576.0
    out("executor.busy_frac") = if (jobS > 0) runS / (cores * jobS) else 0.0
    out("accounting") = Json.obj("wall_s" -> wall, "planning_s" -> planS,
      "job_s" -> jobS, "covered_s" -> coveredS, "gap_s" -> gapS,
      "exec_s" -> execS, "sched_s" -> schedS, "bound" -> label, "ok" -> ok)

    // spans: query → action → job → stage
    val qId = newId()
    def span(id: Long, parent: Option[Long], kind: String, name: String,
        a: Long, b: Long, extra: (String, Any)*): Unit =
      spans += Json(Json.obj(Seq("id" -> id, "parent" -> parent,
        "kind" -> kind, "name" -> name, "item" -> item, "pass" -> pass,
        "start_ms" -> a, "end_ms" -> b) ++ extra: _*))
    span(qId, None, "query", item, startMs, endMs)
    // actions are SQL executions (jobs name theirs in a local property);
    // each QueryExecutionListener callback becomes a "plan" span with its
    // Catalyst phases, under the execution that was running when its
    // last phase ended
    val execIds = sqlSpans.map { case (exec, (s, e)) =>
      val id = newId()
      span(id, Some(qId), "action", s"sql execution $exec", s, math.max(s, e))
      exec -> id
    }
    actions.foreach { a =>
      val last = a.phases.map(_._3).foldLeft(startMs)(math.max)
      val running = sqlSpans.filter { case (_, (s, e)) =>
        s <= last + 20 && last <= math.max(s, e) + 20 }
      val parent = if (running.isEmpty) qId else execIds(running.maxBy(_._2._1)._1)
      val first = a.phases.map(_._2).foldLeft(last)(math.min)
      span(newId(), Some(parent), "plan", a.func, first, last, "ok" -> a.ok,
        "phases" -> a.phases.map(p => Json.obj("phase" -> p._1,
          "start_ms" -> p._2, "end_ms" -> p._3)))
    }
    val jobIds = jobs.map { case (jid, j) =>
      val id = newId()
      span(id, Some(j.exec.flatMap(execIds.get).getOrElse(qId)), "job",
        s"job $jid", j.start, j.end, "stages" -> j.stages.size)
      jid -> id
    }
    stages.foreach { s =>
      span(newId(), Some(jobIds.getOrElse(s.job, qId)), "stage", s.name,
        s.submit, s.complete, "tasks" -> s.tasks, "run_s" -> s.runMs / 1e3,
        "cpu_s" -> s.cpuNs / 1e9)
    }
    out
  }
}
