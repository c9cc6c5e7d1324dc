package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-side tracing: a span around each call the benchmark makes
  * into a layer of the program, plus per-job Spark scheduler counters
  * from a listener that the benchmark attaches. Nothing here runs inside
  * the program: a span covers one public call, and the program's own
  * Spark jobs are tied to the innermost open span through a thread-local
  * Spark property that the listener reads back at job start.
  *
  * Spans and jobs stay in memory and are written out after the run ends
  * (see [[Main]]); with tracing off, [[span]] is a plain call. */
object Trace {
  final case class Span(id: Long, parent: Long, group: String, name: String,
                        startNs: Long, endNs: Long)

  final class Job(val jobId: Int, val span: Long, val startMs: Long,
                  val site: String, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val inputBytes = new AtomicLong
  }

  private val SpanKey = "perfbench.span"
  @volatile private var sc: SparkContext = _
  @volatile var on: Boolean = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val groups = ThreadLocal.withInitial[String](() => "")

  /** Start recording: attach the listener to `context`. */
  def start(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(Listener)
    on = true
  }

  /** Stop recording and hand back what was recorded. */
  def stop(): (Seq[Span], Seq[Job]) = {
    on = false
    if (sc != null) {
      org.apache.spark.perfbenchx.Bus.drain(sc)
      sc.removeSparkListener(Listener)
    }
    val out = (spans.asScala.toSeq, jobs.values.asScala.toSeq.sortBy(_.jobId))
    spans.clear(); jobs.clear(); stageToJob.clear(); executions.clear()
    out
  }

  /** The spans of one request or table share `group`; nested calls
    * inherit the enclosing group. */
  def span[A](name: String, group: String = "")(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val outerGroup = groups.get
      val g = if (group.nonEmpty) group else outerGroup
      stack.set(id :: outer)
      groups.set(g)
      val prevProp = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanKey, prevProp)
        stack.set(outer)
        groups.set(outerGroup)
        spans.add(Span(id, outer.headOption.getOrElse(0L), g, name, t0, t1))
      }
    }

  /** First frame of the program (not the benchmark, not Spark) on a
    * job's call site, e.g. `graft.etl.Validate$.validateSchema`. */
  private[perfbench] def programFrame(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("org.apache.spark.sql.graftx"))
      .map(l => l.takeWhile(_ != '('))
      .getOrElse("")

  // SQL execution id -> program frame of the Dataset action; a job that
  // Spark runs on its own threads (broadcasts, subqueries) carries the
  // execution id but not the caller's stack
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]

  private def execution(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executions.get(id.toLong)))

  private object Listener extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        executions.put(x.executionId, programFrame(x.details))
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      val site = e.stageInfos.sortBy(_.stageId).lastOption
        .map(s => programFrame(s.details)).filter(_.nonEmpty)
        .orElse(execution(e.properties)).getOrElse("")
      val j = new Job(e.jobId, span, e.time, site, e.stageIds)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { j =>
        j.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs.addAndGet(m.executorCpuTime)
          j.gcMs.addAndGet(m.jvmGCTime)
          j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        }
      }
  }
}
