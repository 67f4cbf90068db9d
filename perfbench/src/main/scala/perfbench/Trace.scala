package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One benchmark span: a named interval on the driver thread, nested under
  * `parent` (-1 for a root). Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One Spark job as the listener saw it. `span` is the innermost benchmark
  * span open on the submitting thread when the job started (-1 when none).
  * Times are epoch ms; `busyMs` is the summed executor run time of its
  * tasks; `module` is the [[Layers.MetaModules]] entry of its call site. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, span: Int,
    busyMs: Long, shuffleWriteBytes: Long, module: String) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Pure interval arithmetic behind "time covered by no job". */
object Intervals {
  /** Total length covered by the union of `ivs`, each clipped to [lo, hi]. */
  def coveredWithin(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Records spans on the calling (driver) thread and tags every Spark job
  * submitted inside a span with that span's id, through a Spark local
  * property that the job-start event carries. With `enabled = false` every
  * call is a plain pass-through, so the untraced run pays nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.SpanProperty

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  val jobs: JobListener = new JobListener
  if (enabled) sc.addSparkListener(jobs)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, t0, t1)
      }
    }

  /** A `System.nanoTime` reading on the epoch-ms clock that job events use. */
  def epochMs(ns: Long): Long = baseMs + (ns - baseNs) / 1000000L

  /** Every recorded span, after the listener bus has delivered all events. */
  def finish(): (Seq[Span], Seq[JobRec]) = {
    if (enabled) {
      org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
      sc.removeSparkListener(jobs)
    }
    (spans.toSeq.sortBy(_.id), jobs.records)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Collects per-job timing, task busy time and shuffle bytes. Tasks are
  * mapped to jobs through the stage ids each job-start event lists. A job
  * of a SQL execution takes the module of the execution's call site (the
  * thread that ran the action; the job itself may start on a broadcast or
  * subquery thread), any other job the module of its result stage's call
  * site. */
final class JobListener extends SparkListener {
  private final class Acc(val id: Int, val startMs: Long, val span: Int, val module: String) {
    @volatile var endMs: Long = startMs
    var busyMs = 0L; var shuffle = 0L
  }
  private val byJob = new ConcurrentHashMap[Int, Acc]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val executionModule = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionModule.put(s.executionId, Layers.moduleOf(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => Option(executionModule.get(id.toLong)))
    // the result stage, created last, carries the job's own call site
    def own = Layers.moduleOf(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    byJob.put(e.jobId, new Acc(e.jobId, e.time, span, execution.getOrElse(own)))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = byJob.get(stageToJob.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    if (acc != null && m != null) acc.synchronized {
      acc.busyMs += m.executorRunTime
      acc.shuffle += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def records: Seq[JobRec] = byJob.values().asScala.toSeq.sortBy(_.id).map { a =>
    JobRec(a.id, a.startMs, a.endMs, a.span, a.busyMs, a.shuffle, a.module)
  }
}
