package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch nanoseconds;
  * `op` is the id of the operation the span belongs to (-1 outside one). */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    start: Long, end: Long, op: Int)

/** In-memory span recorder for the traced run: run -> pass -> operation ->
  * Spark job -> stage, plus the direct format-layer calls. Spans are kept in
  * memory and written out once, when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Long, Int)]
  private var nextId = 0
  var currentOp: Int = -1

  // epoch nanoseconds from the monotonic clock, comparable with Spark's epoch-ms event times
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = epochBase + System.nanoTime()

  def open(name: String, kind: String, op: Int = currentOp): Int = {
    val id = nextId
    nextId += 1
    stack.push((id, name, kind, now(), op))
    id
  }

  def close(): Span = {
    val (id, name, kind, start, op) = stack.pop()
    val parent = if (stack.isEmpty) -1 else stack.top._1
    val s = Span(id, parent, name, kind, start, now(), op)
    spans += s
    s
  }

  def span[T](name: String, kind: String)(body: => T): T = {
    open(name, kind)
    try body finally close()
  }

  def add(parent: Int, name: String, kind: String, start: Long, end: Long, op: Int): Int = {
    spans += Span(nextId, parent, name, kind, start, end, op)
    nextId += 1
    nextId - 1
  }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}","kind":"${s.kind}","start":${s.start},"end":${s.end},"op":${s.op}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark-side counters of one traced pass. */
final class PassStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var planMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  val jobRecords = mutable.ArrayBuffer.empty[(Int, Long, Long, String)] // id, start, end, op
  val stageRecords = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)] // stage, job, start, end
}

/** Listener side of the traced run: a SparkListener for jobs, stages and
  * tasks, and a QueryExecutionListener for planning time. Both feed the
  * current [[PassStats]]. */
final class SparkTrace(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var current: PassStats = new PassStats
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkTrace.OpProperty))).orNull
    jobStart(e.jobId) = (e.time, op)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (start, op) = jobStart.remove(e.jobId).getOrElse((e.time, null))
    current.jobs += 1
    current.jobRecords += ((e.jobId, start, e.time, op))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    current.stages += 1
    val info = e.stageInfo
    for (job <- stageJob.remove(info.stageId); s <- info.submissionTime; c <- info.completionTime)
      current.stageRecords += ((info.stageId, job, s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val p = current
    p.tasks += 1
    val info = e.taskInfo
    if (info != null) p.taskIntervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      p.taskMs += m.executorRunTime
      p.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      p.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      p.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized { current.planMs += planMs }
  }

  /** Waits until every event posted so far has reached the listeners, then
    * swaps in a fresh [[PassStats]] and returns the finished one. */
  def finishPass(): PassStats = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { val p = current; current = new PassStats; p }
  }
}

object SparkTrace {
  val OpProperty = "perfbench.op"

  /** Length of the union of `intervals`, each clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }
}

/** Minimal JSON string escaping for the result and span files. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
