package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the benchmark makes into the engine. */
final class Span(val id: Int, val name: String, val request: String, val parent: Int) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var endMs = 0L
  var endNs = 0L
  def seconds: Double = (endNs - startNs) / 1e9

  // Spark work attributed to this span: through its job group, or, for a
  // job another thread started under its own group (a streaming query's
  // micro-batches), through the time the job started
  var jobs, jobsByTime, stages, tasks, tasksFailed = 0L
  var taskRunMs, taskCpuNs, taskWaitMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var inputRecords, outputRows, outputBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Spans plus Spark's own job, stage, task and query-planning events,
  * joined through a job group set around every span. A job without the
  * benchmark's group (started by a streaming query's own thread, or under
  * a group the engine set) goes to the innermost span open when it
  * started. Installed in the traced run only.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSite = mutable.HashMap.empty[Int, String]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private var jobsStarted, jobsEnded, stagesStarted, stagesEnded = 0L
  private var paused = false

  /** call site (the result stage's short form) -> (jobs, seconds) */
  val callSites = mutable.HashMap.empty[String, (Long, Double)]
  var analysisMs, optimizationMs, planningMs = 0.0
  var plannedQueries = 0L

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[T](name: String, request: String)(body: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, name, request, stack.headOption.map(_.id).getOrElse(-1))
      spans += s; stack.push(s); s
    }
    sc.setJobGroup(s"perfbench-${s.id}", s"$name $request", interruptOnCancel = false)
    try body
    finally {
      synchronized {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack.pop()
      }
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", s"${p.name} ${p.request}", false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Waits until every event of the calls made so far was delivered and
    * every started job and stage has ended; fails after `timeoutMs`.
    */
  def drain(timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc, timeoutMs)
    synchronized {
      while (jobsStarted != jobsEnded || stagesStarted != stagesEnded) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new IllegalStateException(s"trace drain timed out: jobs $jobsEnded/$jobsStarted " +
            s"ended, stages $stagesEnded/$stagesStarted completed")
        wait(left) // job-end and stage-completed events notify
      }
    }
  }

  /** Runs benchmark bookkeeping (dumps, audits) outside the trace: its
    * jobs and plans count toward no span, call site or Catalyst total.
    */
  def untraced[T](body: => T): T = {
    drain(); synchronized { paused = true }
    try body finally { drain(); synchronized { paused = false } }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  private def spanOfGroup(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench-"))
      .map(g => spans(g.stripPrefix("perfbench-").toInt))

  /** The innermost span open at `timeMs`: spans nest on one client thread,
    * so it is the latest-started one whose interval holds the time.
    */
  private def spanOpenAt(timeMs: Long): Option[Span] =
    spans.reverseIterator.find(s => s.startMs <= timeMs && (s.endMs == 0L || timeMs <= s.endMs))

  /** Jobs started outside every span while tracing, by call site; the
    * traced run reports them so that work no span covers shows.
    */
  val unattributed = mutable.HashMap.empty[String, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    jobStart(e.jobId) = e.time
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
    jobSite(e.jobId) = site
    val byGroup = spanOfGroup(e.properties)
    val span = byGroup.orElse(if (paused) None else spanOpenAt(e.time))
    span.foreach { s =>
      s.jobs += 1
      if (byGroup.isEmpty) s.jobsByTime += 1
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageSpan(_) = s)
    }
    if (span.isEmpty && !paused) unattributed(site) = unattributed.getOrElse(site, 0L) + 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    notifyAll()
    val start = jobStart.remove(e.jobId).getOrElse(e.time)
    jobSpan.remove(e.jobId).foreach(_.jobIntervals += ((start, e.time)))
    jobSite.remove(e.jobId).filter(_ => !paused).foreach { site =>
      val (n, sec) = callSites.getOrElse(site, (0L, 0.0))
      callSites(site) = (n + 1, sec + (e.time - start) / 1000.0)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stagesStarted += 1
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesEnded += 1
    notifyAll()
    stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (!e.taskInfo.successful) s.tasksFailed += 1
      stageSubmitted.get(e.stageId).foreach(t => s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputRows += m.outputMetrics.recordsWritten
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(if (!paused) {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      analysisMs += ms("analysis"); optimizationMs += ms("optimization"); planningMs += ms("planning")
      plannedQueries += 1
    })

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  /** Span wall time that no job of the span covers, in seconds. */
  def driverGap(s: Span): Double = {
    val iv = s.jobIntervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => covered += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => covered += b - a }
    math.max(0.0, s.seconds - covered / 1000.0)
  }

  /** Counter values of one span; self_s subtracts the direct children. */
  def counters(s: Span, children: Seq[Span]): Map[String, Double] = Map(
    "s" -> s.seconds,
    "self_s" -> (s.seconds - children.map(_.seconds).sum),
    "jobs" -> s.jobs.toDouble, "jobs_by_time" -> s.jobsByTime.toDouble,
    "stages" -> s.stages.toDouble, "tasks" -> s.tasks.toDouble,
    "tasks_failed" -> s.tasksFailed.toDouble,
    "task_run_s" -> s.taskRunMs / 1000.0, "task_cpu_s" -> s.taskCpuNs / 1e9,
    "task_wait_s" -> s.taskWaitMs / 1000.0,
    "shuffle_read_bytes" -> s.shuffleRead.toDouble, "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
    "spill_bytes" -> s.spill.toDouble, "input_records" -> s.inputRecords.toDouble,
    "output_rows" -> s.outputRows.toDouble, "output_bytes" -> s.outputBytes.toDouble,
    "driver_gap_s" -> driverGap(s))
}
