package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * A span is a named interval on the driver, opened around one public
  * call into a layer. Spark work is attributed to the innermost span
  * whose interval contains it: a job by its submission time, its tasks
  * through their stage, planning by each phase's start time. Time
  * attribution (rather than thread-local job groups) also catches jobs
  * the program submits from its own worker threads, e.g. the parallel
  * CSV writes. Spans stay in memory until [[rows]] is read at the end.
  */
final class Trace(spark: SparkSession, val runId: String) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private def spanAt(ms: Long): Option[Span] = synchronized {
    spans.reverseIterator.find(s => s.startMs <= ms && ms <= s.endMs)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = spanAt(e.time).foreach { s =>
      s.synchronized(s.jobs += 1)
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.tasks += 1
        s.busyMs += m.executorRunTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private[perfbench] def recordPlan(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach { p =>
      spanAt(p.startTimeMs).foreach(s => s.synchronized(s.planMs += p.durationMs))
    }

  /** Start attributing Spark work to spans. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    Trace.current = this
  }

  /** Wait for every pending event, then stop attributing. */
  def detach(): Unit = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    Trace.current = null
    spark.sparkContext.removeSparkListener(listener)
  }

  def span[T](name: String, detail: String = "")(body: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), detail,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open ::= s
      s
    }
    try body
    finally synchronized {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** Self time: the span's wall time minus the union of the intervals
    * its direct children cover.
    */
  private def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  def rows: Seq[Trace.Row] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      Trace.Row(runId, s.id, s.name, s.parent, s.detail, s.startMs, s.endMs,
        (s.endNs - s.startNs) / 1e9, selfSeconds(s, kids.getOrElse(s.id, Nil).toSeq),
        s.jobs, s.tasks, s.shuffleBytes / 1e6, s.spillBytes / 1e6, s.busyMs / 1e3, s.planMs)
    }
  }
}

object Trace {
  final class Span(val id: Int, val name: String, val parent: Int, val detail: String,
      val startMs: Long, val startNs: Long) {
    @volatile var endMs: Long = Long.MaxValue
    var endNs: Long = 0L
    var jobs = 0L
    var tasks = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var busyMs = 0L
    var planMs = 0L
  }

  final case class Row(run: String, id: Int, name: String, parent: Int, detail: String,
      startMs: Long, endMs: Long, wallS: Double, selfS: Double, jobs: Long, tasks: Long,
      shuffleMb: Double, spillMb: Double, busyS: Double, planMs: Long) {
    def toMap: Map[String, Any] = Map("run" -> run, "id" -> id, "name" -> name,
      "parent" -> parent, "detail" -> detail, "start_ms" -> startMs, "end_ms" -> endMs,
      "wall_s" -> wallS, "self_s" -> selfS, "jobs" -> jobs, "tasks" -> tasks,
      "shuffle_mb" -> shuffleMb, "spill_mb" -> spillMb, "busy_s" -> busyS,
      "plan_ms" -> planMs)
  }

  /** The seven counters each span reports, with units. */
  val counters: Seq[(String, String)] = Seq("wall_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "busy_s" -> "s",
    "plan_ms" -> "ms")

  def counterValue(r: Row, c: String): Double = c match {
    case "wall_s" => r.selfS
    case "jobs" => r.jobs.toDouble
    case "tasks" => r.tasks.toDouble
    case "shuffle_mb" => r.shuffleMb
    case "spill_mb" => r.spillMb
    case "busy_s" => r.busyS
    case "plan_ms" => r.planMs.toDouble
  }

  @volatile private[perfbench] var current: Trace = null
}

/** Registered through `spark.sql.queryExecutionListeners` in traced
  * runs, so child sessions created by the program report their
  * planning too.
  */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = Trace.current
    if (t != null) t.recordPlan(qe)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    val t = Trace.current
    if (t != null) t.recordPlan(qe)
  }
}
