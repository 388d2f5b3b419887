package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: a benchmark-side span around a call into an engine
  * module. `trace` is shared by every span of one cycle or one query. */
final class Span(val id: Long, val parent: Long, @volatile var name: String,
    val trace: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
}

/** Spark work charged to one span by [[SparkAttribution]]. */
final class SparkCharge {
  var jobs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var gcMs = 0L
  var waitMs = 0L
  var recordsRead = 0L
}

/** Span recorder. Off, every call is a plain pass-through; on, spans are
  * kept in memory and written out when the run ends. The innermost open
  * span of a thread is published as a Spark local property, so jobs the
  * call submits (from this thread or threads it creates) are charged to
  * it. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]

  def span[A](name: String, trace: String = null)(f: => A): A =
    if (!enabled) f
    else {
      val parent = current.get
      val t = if (trace != null) trace else if (parent != null) parent.trace else "-"
      val s = new Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id,
        name, t, System.nanoTime())
      spans.add(s)
      current.set(s)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanKey, if (parent == null) null else parent.id.toString)
      }
    }

  /** Rename the innermost open span: some calls are classified only
    * once they return (an MOR upsert that also compacted). */
  def relabel(name: String): Unit =
    if (enabled) Option(current.get).foreach(_.name = name)

  def closed: Seq[Span] = spans.asScala.filter(_.endNs >= 0).toSeq
}

object Tracer {
  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"
}

/** SparkListener that charges task CPU time to the measured operation
  * (`Run.OpKey`) and — when tracing — jobs, tasks, shuffle bytes, GC
  * time, input records and task wait (stage submission to task launch,
  * plus scheduler delay) to the span that submitted the job. */
final class SparkAttribution(traced: Boolean) extends SparkListener {
  val bySpan = new java.util.concurrent.ConcurrentHashMap[Long, SparkCharge]()
  val opCpuNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def idOf(p: java.util.Properties, key: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(key))).map(_.toLong).getOrElse(0L)

  private def ids(p: java.util.Properties): (Long, Long) =
    (idOf(p, Tracer.SpanKey), idOf(p, Tracer.OpKey))

  private def charge(span: Long): SparkCharge = bySpan.computeIfAbsent(span, _ => new SparkCharge)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = ids(e.properties)
    e.stageIds.foreach(id => stageSpan.put(id, s))
    if (traced) {
      val c = charge(s._1)
      c.synchronized(c.jobs += 1)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    if (e.properties != null) stageSpan.put(id, ids(e.properties))
    stageSubmitted.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (s, op) = Option(stageSpan.get(e.stageId)).getOrElse((0L, 0L))
    val m = e.taskMetrics
    if (m != null && op != 0L)
      opCpuNs.merge(op, m.executorCpuTime + m.executorDeserializeCpuTime, (a, b) => a + b)
    if (traced) chargeTask(charge(s), e)
  }

  private def chargeTask(c: SparkCharge, e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val queued = Option(stageSubmitted.get(e.stageId))
      .map(t => math.max(0L, info.launchTime - t)).getOrElse(0L)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.gcMs += m.jvmGCTime
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        c.waitMs += queued + math.max(0L, delay)
      } else c.waitMs += queued
    }
  }
}
