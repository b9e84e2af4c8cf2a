package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import Stats.Span

/** Spans around the benchmark's calls into graft, and the Spark work each
  * span caused.
  *
  * A span is opened by [[span]] on the calling thread. While it is open the
  * SparkContext local property [[SpanKey]] carries its id, so every job,
  * stage and task Spark launches for the call (threads the call spawns
  * inherit the property) is charged to it by the listener below — the
  * mechanism of `graft.tools.JobTrace`, keyed by span instead of by time.
  * The span also rides as a job tag, which Spark copies onto each SQL
  * execution it starts; planning phases and plan metrics of that execution
  * are charged to it when the execution ends. Everything stays in memory
  * until [[snapshot]]. Disabled, [[span]] is a plain call.
  */
object Trace {
  val SpanKey = "graft.perfbench.span"
  private val TagPrefix = "perfbench-span-"

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Wall clock in ms with nanoTime resolution, comparable with the epoch
    * millisecond stamps on Spark listener events. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val runId: String = java.util.UUID.randomUUID().toString

  @volatile private var on = false
  @volatile private var spark: SparkSession = _
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Spark work charged to one span. Mutated only on the listener bus. */
  final class Acc {
    var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  }
  final case class Job(span: Long, start: Long, @volatile var end: Long = -1L)
  final case class Query(span: Long, analysisMs: Long, optimizeMs: Long, physicalMs: Long,
      exchangeBytes: Long, spillBytes: Long, scans: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val accs = new ConcurrentHashMap[Long, Acc]()
  private val queries = new ConcurrentHashMap[Long, Query]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val events = new AtomicLong(0)

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)
  private def acc(span: Long): Acc = accs.computeIfAbsent(span, _ => new Acc)

  private object sparkListener extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        val spans = st.jobTags.collect { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toLong }
        if (spans.nonEmpty) { events.incrementAndGet(); execSpan.put(st.executionId, spans.max) }
      case end: SparkListenerSQLExecutionEnd if execSpan.containsKey(end.executionId) =>
        events.incrementAndGet()
        // the ended execution's QueryExecution rides the live event only
        // (a field Spark keeps package-private, hence reflection)
        Option(end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]).foreach { qe =>
          val ph = qe.tracker.phases
          def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
          val (_, exchange, spill, scans) = graft.Observe.planMetrics(qe)
          queries.put(end.executionId, Query(execSpan.get(end.executionId), ms("analysis"),
            ms("optimization"), ms("planning"), math.max(0L, exchange), math.max(0L, spill),
            math.max(0L, scans)))
        }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
      events.incrementAndGet()
      jobs.put(e.jobId, Job(s, e.time))
      acc(s).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) { events.incrementAndGet(); j.end = e.time }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        events.incrementAndGet()
        stageSpan.put(e.stageInfo.stageId, s)
        acc(s).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        events.incrementAndGet()
        val a = acc(s)
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
        }
      }
  }

  /** Listen on `s` (once per session). */
  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(sparkListener)
  }

  def enabled: Boolean = on
  def enabled_=(b: Boolean): Unit = on = b

  /** Run `body` as span `name`, child of the span open on this thread. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val sc = spark.sparkContext
      stack.set(id :: parents)
      sc.setLocalProperty(SpanKey, id.toString)
      sc.addJobTag(TagPrefix + id)
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, t0, nowMs))
        stack.set(parents)
        sc.removeJobTag(TagPrefix + id)
        sc.setLocalProperty(SpanKey, parents.headOption.map(_.toString).orNull)
      }
    }

  /** Wait (bounded) until the listener bus has delivered the events of
    * every job recorded so far: all jobs ended and no event for 300 ms. */
  def drain(maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val n = events.get()
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      val ended = jobs.values.asScala.forall(_.end >= 0)
      if (ended && System.currentTimeMillis() - quietSince >= 300) return
      Thread.sleep(50)
    }
  }

  final case class Snapshot(spans: Seq[Span], jobs: Seq[Job], accs: Map[Long, Acc],
      queries: Seq[Query])

  /** Everything recorded so far. */
  def snapshot(): Snapshot = Snapshot(spans.asScala.toSeq, jobs.values.asScala.toSeq,
    accs.asScala.toMap, queries.values.asScala.toSeq)
}
