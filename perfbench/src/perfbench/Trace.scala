package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so that the
  * benchmark's own spans line up with the millisecond timestamps Spark puts
  * on job and query-phase events. */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  private val ticksPerS = 100.0 // USER_HZ of /proc/<pid>/task/<tid>/stat

  /** CPU ticks per live thread of this process, leaving out the JIT
    * compiler's threads. */
  def cpu(): Map[String, Long] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.flatMap { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")), "UTF-8")
        val close = stat.lastIndexOf(')')
        if (stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) None
        else {
          val f = stat.substring(close + 2).split(' ')
          Some(t.getName -> (f(11).toLong + f(12).toLong)) // utime + stime
        }
      } catch { case _: java.io.IOException => None } // thread ended while being read
    }.toMap
  }

  /** CPU seconds the program's threads used between two [[cpu]] readings.
    * Unlike wall time it does not grow when the host steals cores, and
    * leaving out compilation keeps the JVM's warm-up out of it; garbage
    * collection, which the program's allocations cause, stays in. Work of
    * a thread that ended in between is not counted. */
  def cpuS(from: Map[String, Long], to: Map[String, Long]): Double =
    to.map { case (tid, t) => t - from.getOrElse(tid, 0L) }.sum / ticksPerS
}

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for a trace root); spans of one lane execution or one
  * pipeline call share `trace`. */
final case class Span(id: Int, name: String, trace: String, parent: Int,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Length of the part of [lo, hi] covered by the union of `ivs` (ms). */
object Intervals {
  def covered(ivs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Per-job-group execution counters, summed from task-end events. */
final class ExecCounters {
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inBytes = 0L
  var inRows = 0L
  var shReadBytes = 0L
  var shWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakTaskBytes = 0L
  var retries = 0L
}

/** Spans and counts, kept in memory and written out when the run ends.
  * The benchmark thread opens and closes spans around calls into the
  * program; the two listeners below add job and query-phase spans from
  * Spark's listener bus. A job belongs to the trace named by its job group;
  * a query phase to the trace open when Spark reports it, which is exact
  * because the benchmark drains the bus before it opens the next trace. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  val counts = mutable.LinkedHashMap[(String, String), Double]()
  private val open = mutable.Stack[Int]()
  @volatile private var currentTrace = ""
  val jobs = ArrayBuffer[(String, Int, Double, Double)]() // trace, jobId, start, end
  val exec = mutable.Map[String, ExecCounters]()

  private def add(name: String, trace: String, parent: Int, s: Double, e: Double): Int =
    synchronized {
      val id = spans.size
      spans += Span(id, name, trace, parent, s, e)
      id
    }

  def count(trace: String, name: String, v: Double): Unit =
    synchronized { counts((trace, name)) = counts.getOrElse((trace, name), 0.0) + v }

  /** Run `body` as a span named `name`; a span opened with no enclosing
    * span starts trace `trace`. */
  def span[T](name: String, trace: String = currentTrace)(body: => T): T = {
    if (open.isEmpty) currentTrace = trace
    val start = Clock.nowMs
    val id = add(name, currentTrace, open.headOption.getOrElse(-1), start, start)
    open.push(id)
    try body
    finally {
      open.pop()
      synchronized { spans(id) = spans(id).copy(end = Clock.nowMs) }
    }
  }

  /** Job events, keyed by the job group the benchmark set for the trace. */
  val sparkListener: SparkListener = new SparkListener {
    private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Double)]
    private def counters(g: String) = Tracer.this.synchronized(exec.getOrElseUpdate(g, new ExecCounters))

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (g.nonEmpty) {
        j.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
        jobStart.put(j.jobId, (g, j.time.toDouble))
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(j.jobId)).foreach { case (g, s) =>
        Tracer.this.synchronized { jobs += ((g, j.jobId, s, j.time.toDouble)) }
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val g = stageGroup.getOrDefault(s.stageInfo.stageId, "")
      if (g.nonEmpty) {
        val c = counters(g)
        c.synchronized {
          c.stages += 1
          if (s.stageInfo.attemptNumber() > 0) c.retries += s.stageInfo.numTasks
        }
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.getOrDefault(t.stageId, "")
      if (g.nonEmpty) {
        val c = counters(g)
        val m = t.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (t.taskInfo != null && (t.taskInfo.failed || t.taskInfo.attemptNumber > 0)) c.retries += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.inBytes += m.inputMetrics.bytesRead
            c.inRows += m.inputMetrics.recordsRead
            c.shReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.diskBytesSpilled
            c.peakTaskBytes = math.max(c.peakTaskBytes, m.peakExecutionMemory)
          }
        }
      }
    }
  }

  /** Query-phase events: analysis, optimization and planning times from
    * `QueryExecution.tracker`, for every action Spark reports. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val trace = currentTrace
      qe.tracker.phases.foreach { case (phase, p) =>
        if (Set("analysis", "optimization", "planning")(phase))
          add(s"driver.$phase", trace, -2, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Give every listener-made span (parent -2) and every job a parent: the
    * innermost benchmark span of the same trace that contains its start. */
  def finish(): Unit = synchronized {
    jobs.foreach { case (g, jobId, s, e) => add("exec.job", g, -2, s, e) }
    jobs.clear()
    val own = spans.filter(_.parent != -2).groupBy(_.trace)
    for (i <- spans.indices if spans(i).parent == -2) {
      val sp = spans(i)
      val hosts = own.getOrElse(sp.trace, Nil).filter(h => h.start <= sp.start && sp.start <= h.end)
      val parent = if (hosts.isEmpty) -1 else hosts.minBy(_.dur).id
      spans(i) = sp.copy(parent = parent)
    }
  }

  /** Self time per span id: duration minus the part its children cover. */
  def selfMs: Map[Int, Double] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { sp =>
      sp.id -> (sp.dur - Intervals.covered(
        kids.getOrElse(sp.id, Nil).map(k => (k.start, k.end)), sp.start, sp.end))
    }.toMap
  }
}
