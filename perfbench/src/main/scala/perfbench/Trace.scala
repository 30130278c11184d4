package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Wall clock in epoch nanoseconds with `System.nanoTime` resolution, so
  * operation times and Spark listener times (epoch milliseconds) share
  * one axis. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One timed call. `parent` is -1 for an operation's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, var end: Long)

/** Spans and counters recorded at the boundaries of the public calls an
  * operation is made of. Kept in memory; written out when the run ends.
  * A disabled tracer only runs the bodies; a traced run enables it for
  * every other round. */
final class Tracer(var enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  /** (op id, counter name) -> value */
  val counters = mutable.LinkedHashMap[(Int, String), Double]()
  private var stack: List[Int] = Nil
  private var op = -1

  private def setProps(): Unit = {
    sc.setLocalProperty(Tracer.OpProp, if (op < 0) null else op.toString)
    sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)
  }

  /** Run one operation: its root span carries the operation's name. */
  def operation[T](opId: Int, name: String)(body: => T): T = {
    op = opId
    try span(name)(body) finally { op = -1; setProps() }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), op, name,
        Clock.now(), 0L)
      spans += s
      stack = s.id :: stack
      setProps()
      try body
      finally {
        s.end = Clock.now()
        stack = stack.tail
        setProps()
      }
    }

  /** A span whose interval is known after the fact (a phase the program
    * timed itself, such as Catalyst analysis inside a build call). */
  def addSpan(name: String, start: Long, end: Long): Unit =
    if (enabled)
      spans += Span(spans.size, stack.headOption.getOrElse(-1), op, name,
        start, end)

  def count(name: String, v: Double): Unit =
    if (enabled) counters((op, name)) = counters.getOrElse((op, name), 0.0) + v
}

object Tracer {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
}

/** Job and stage facts from Spark's listener bus, tagged with the
  * operation and span that were current on the submitting thread. */
final class ExecListener extends SparkListener {
  import ExecListener._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  private def intProp(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, JobRec(e.jobId, intProp(e.properties, Tracer.OpProp),
      intProp(e.properties, Tracer.SpanProp), e.stageIds))
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(-1L),
      i.completionTime.getOrElse(-1L), i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L
      else m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.jvmGCTime))
    ()
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
  def stageList: Seq[StageRec] = stages.asScala.toSeq
}

object ExecListener {
  final case class JobRec(jobId: Int, op: Int, span: Int, stageIds: Seq[Int])
  final case class StageRec(stageId: Int, submitMs: Long, completeMs: Long,
      tasks: Int, runMs: Long, cpuNs: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long)
}
