package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. Times are epoch nanoseconds (wall clock, so Spark
  * listener timestamps, which are epoch milliseconds, line up with
  * them). `parent` is the id of the enclosing span on the same thread,
  * or 0 for a root.
  */
final case class Span(id: Int, parent: Int, name: String, req: String,
    start: Long, end: Long)

/** In-memory span recorder. Off by default: with tracing off `span`
  * costs one volatile read, so untraced runs carry no tracing work.
  */
object Trace {
  @volatile var on = false
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val t0Wall = System.currentTimeMillis() * 1000000L
  private val t0Mono = System.nanoTime()

  /** Wall-clock epoch nanoseconds from the monotonic clock. */
  def now(): Long = t0Wall + (System.nanoTime() - t0Mono)

  def current: Int = stack.get().headOption.getOrElse(0)

  /** Run `f` inside a span. Spark jobs submitted by `f` on this thread
    * carry the job tag `pb-<span id>`, which the listener below turns
    * into the job's parent.
    */
  def span[T](name: String, req: String, sc: SparkContext = null)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack.set(id :: stack.get())
      val tag = s"pb-$id"
      if (sc != null) sc.addJobTag(tag)
      val start = now()
      try f
      finally {
        val end = now()
        if (sc != null) sc.removeJobTag(tag)
        stack.set(stack.get().tail)
        done.add(Span(id, parent, name, req, start, end))
      }
    }

  /** Record an externally timed span (listener events). */
  def record(parent: Int, name: String, req: String, start: Long, end: Long): Unit =
    if (on) done.add(Span(ids.incrementAndGet(), parent, name, req, start, end))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  def clear(): Unit = done.clear()
}

/** Per-job Spark counters, attributed through the `pb-<span>` job tags
  * [[Trace.span]] sets on the calling thread.
  */
final class JobStats {
  @volatile var jobs = 0
  @volatile var stages = 0
  @volatile var tasks = 0
  @volatile var taskNanos = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleRead = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L
  @volatile var schedDelayMs = 0L
}

final class SparkCounters extends SparkListener {
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobFirstTask = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** Stats per parent span id (0 = untagged). */
  val bySpan = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  val open = new AtomicInteger(0)

  /** Forget the counts so far; call only with no job running. */
  def reset(): Unit = bySpan.clear()

  private def statsOf(span: Int): JobStats = bySpan.computeIfAbsent(span, _ => new JobStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.incrementAndGet()
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .getOrElse("")
    // nested spans each add a tag; the innermost (newest) one is the parent
    val span = tags.split(",").collect {
      case t if t.startsWith("pb-") => t.stripPrefix("pb-").toInt
    }.maxOption.getOrElse(0)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    val st = statsOf(span)
    st.synchronized { st.jobs += 1; st.stages += e.stageInfos.size }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageToJob.get(e.stageId)).foreach(j =>
      jobFirstTask.merge(j, e.taskInfo.launchTime, (a, b) => math.min(a, b)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).foreach { j =>
      val st = statsOf(jobSpan.getOrDefault(j, 0))
      val m = e.taskMetrics
      st.synchronized {
        st.tasks += 1
        st.taskNanos += (e.taskInfo.finishTime - e.taskInfo.launchTime) * 1000000L
        if (m != null) {
          st.gcMs += m.jvmGCTime
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = jobSpan.getOrDefault(e.jobId, 0)
    val start = jobStart.getOrDefault(e.jobId, e.time)
    Option(jobFirstTask.get(e.jobId)).foreach { ft =>
      val st = statsOf(span)
      st.synchronized { st.schedDelayMs += math.max(0L, ft - start) }
    }
    Trace.record(span, "spark.job", "", start * 1000000L, e.time * 1000000L)
    open.decrementAndGet()
  }
}

/** Catalyst phase times of every completed action, as spans placed by
  * time (the summarizer nests them under the span that covers them).
  */
final class CatalystPhases extends QueryExecutionListener {
  val events = new AtomicInteger(0)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      Trace.record(-1, s"catalyst.$phase", "", s.startTimeMs * 1000000L,
        s.endTimeMs * 1000000L)
    }
    events.incrementAndGet()
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    events.incrementAndGet()
}
