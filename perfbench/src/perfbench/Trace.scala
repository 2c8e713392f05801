package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval at a layer boundary. Times are epoch milliseconds;
  * `parent` is 0 for the run's root span. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double, counts: Map[String, Double])

/** Spans and counts of one benchmark process, kept in memory and written
  * out when the process ends.
  *
  * Layers, outermost first: `run` → `phase` (setup, cold pass, hot round
  * k, backfill, resume) → `operation` (a query, a month, consolidation) →
  * `call` (plan build, execute, a standalone read or normalize) → `job` →
  * `stage`. Spark jobs find their parent through the job-local property
  * [[Trace.ParentKey]], which [[span]] sets on the submitting thread.
  *
  * While `on` is false nothing is recorded and [[span]] only runs its
  * body, so untraced runs pay for neither the bookkeeping nor the
  * listeners.
  */
final class Trace(val runId: String, traced: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  /** Epoch ms at nanosecond resolution, comparable with listener times. */
  def now: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private var lastId = 0
  private var stack: List[Int] = Nil
  private val openCounts = mutable.Map[Int, mutable.Map[String, Double]]()
  @volatile var sc: Option[SparkContext] = None
  /** Recording switch; a traced process turns it off for the rounds it
    * runs untraced to measure the tracing overhead. */
  @volatile var on: Boolean = traced

  def newId(): Int = synchronized { lastId += 1; lastId }
  def add(s: Span): Unit = synchronized { spans += s }
  def current: Int = synchronized(stack.headOption.getOrElse(0))
  def all: Seq[Span] = synchronized(spans.toList)

  /** Add `v` to count `key` of the innermost open span. */
  def count(key: String, v: Double): Unit = if (on) synchronized {
    stack.headOption.foreach { id =>
      val m = openCounts.getOrElseUpdate(id, mutable.Map())
      m(key) = m.getOrElse(key, 0.0) + v
    }
  }

  /** Point Spark jobs submitted from this thread at span `id`. */
  def tagJobs(id: Int): Unit =
    if (on) sc.foreach(_.setLocalProperty(Trace.ParentKey, id.toString))

  /** Run `body` inside a new span; `startAt` backdates its start (the
    * run span starts when the JVM did). */
  def span[T](layer: String, name: String, startAt: Double = Double.NaN)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = current
      val start = if (startAt.isNaN) now else startAt
      synchronized { stack = id :: stack }
      tagJobs(id)
      try body
      finally {
        val counts = synchronized {
          stack = stack.tail
          openCounts.remove(id).map(_.toMap).getOrElse(Map.empty[String, Double])
        }
        tagJobs(parent)
        add(Span(id, parent, layer, name, start, now, counts))
      }
    }

  /** Self time per span: its duration minus the part of it that its
    * children cover. */
  def selfTimes: Map[Int, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = Trace.unionLength(
        kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end)))
      s.id -> ((s.end - s.start) - covered).max(0.0)
    }.toMap
  }

  /** Seconds of self time summed per layer. */
  def selfByLayer: Map[String, Double] = {
    val self = selfTimes
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1000.0 }
  }

  def writeSpans(path: String): Unit = {
    val self = selfTimes
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try all.sortBy(_.start).foreach { s =>
      w.write(Json.render(mutable.LinkedHashMap[String, Any](
        "run" -> runId, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self(s.id), "counts" -> s.counts)))
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  val ParentKey = "perfbench.parent"

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Running totals the listeners add to. A phase's numbers are the
  * difference of two snapshots taken after the listener bus drained. */
final case class Totals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, tasksFailed: Long = 0,
    taskMs: Double = 0, cpuNs: Double = 0, gcMs: Double = 0,
    inputBytes: Double = 0, shuffleReadBytes: Double = 0, shuffleWriteBytes: Double = 0,
    spillBytes: Double = 0, outputBytes: Double = 0, outputRecords: Double = 0,
    queries: Long = 0, analysisMs: Double = 0, optimizationMs: Double = 0,
    planningMs: Double = 0, cacheScans: Long = 0) {
  def -(o: Totals): Totals = Totals(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, tasksFailed - o.tasksFailed,
    taskMs - o.taskMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    outputBytes - o.outputBytes, outputRecords - o.outputRecords,
    queries - o.queries, analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, cacheScans - o.cacheScans)
}

/** The benchmark's own Spark and query-execution listener. It turns jobs
  * and stages into spans under the span named by the job's
  * [[Trace.ParentKey]] property, adds task metrics to [[Totals]], and reads
  * the planning phases and cached-relation scans of every finished query.
  */
final class Listener(trace: Trace) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private var tot = Totals()
  private val jobSpan = mutable.Map[Int, (Int, Int, Double)]() // job -> (span, parent, start)
  private val stageParent = mutable.Map[Int, Int]()
  private val stageIv = mutable.ArrayBuffer[(Double, Double)]()

  def totals: Totals = synchronized(tot)
  /** Running intervals of every completed stage, epoch ms. */
  def stageIntervals: Seq[(Double, Double)] = synchronized(stageIv.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Trace.ParentKey))).map(_.toInt)
      .getOrElse(0)
    val id = trace.newId()
    jobSpan(e.jobId) = (id, parent, e.time.toDouble)
    e.stageIds.foreach(s => if (!stageParent.contains(s)) stageParent(s) = id)
    tot = tot.copy(jobs = tot.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      trace.add(Span(id, parent, "job", s"job ${e.jobId}", start, e.time.toDouble, Map.empty))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) {
      stageIv += ((s.toDouble, c.toDouble))
      trace.add(Span(trace.newId(), stageParent.getOrElse(i.stageId, 0), "stage",
        s"stage ${i.stageId}.${i.attemptNumber()} ${i.name.takeWhile(_ != ' ')}",
        s.toDouble, c.toDouble, Map("tasks" -> i.numTasks.toDouble)))
    }
    tot = tot.copy(stages = tot.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = e.reason != org.apache.spark.Success
    val m = Option(e.taskMetrics)
    tot = m match {
      case Some(m) => tot.copy(
        tasks = tot.tasks + 1,
        tasksFailed = tot.tasksFailed + (if (failed) 1 else 0),
        taskMs = tot.taskMs + m.executorRunTime,
        cpuNs = tot.cpuNs + m.executorCpuTime,
        gcMs = tot.gcMs + m.jvmGCTime,
        inputBytes = tot.inputBytes + m.inputMetrics.bytesRead,
        shuffleReadBytes = tot.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = tot.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = tot.spillBytes + m.diskBytesSpilled,
        outputBytes = tot.outputBytes + m.outputMetrics.bytesWritten,
        outputRecords = tot.outputRecords + m.outputMetrics.recordsWritten)
      case None => tot.copy(tasks = tot.tasks + 1,
        tasksFailed = tot.tasksFailed + (if (failed) 1 else 0))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val scans = collectWithSubqueries(qe.executedPlan) {
      case p if p.nodeName == "InMemoryTableScan" => 1
    }.size
    synchronized {
      tot = tot.copy(queries = tot.queries + 1,
        analysisMs = tot.analysisMs + ms("analysis"),
        optimizationMs = tot.optimizationMs + ms("optimization"),
        planningMs = tot.planningMs + ms("planning"),
        cacheScans = tot.cacheScans + scans)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
