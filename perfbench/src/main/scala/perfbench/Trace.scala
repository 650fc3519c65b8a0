package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: `parent` is the enclosing span's id (-1 at the
  * root); times are driver wall clock.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span through the job's local property. */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes jobs, tasks, executor CPU, GC, shuffle and spill to the
  * span whose id the submitting thread carried in [[Tracer.Property]].
  * Jobs submitted with no span id land under -1.
  */
final class SpanListener extends SparkListener {
  private val work = mutable.HashMap.empty[Int, SparkWork]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def of(span: Int) = work.getOrElseUpdate(span, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageSpan(s) = span)
    of(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (span <- jobSpan.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      of(span).jobIntervals += ((t0, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = of(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def workOf(span: Int): SparkWork = synchronized(of(span))
}

/** Span recorder for calls the benchmark makes into the system. Spans
  * stay in memory until [[spans]] is read at the end of the run.
  */
final class Tracer(sc: SparkContext, runId: String) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  val listener = new SpanListener

  def span[A](name: String)(body: => A): A = {
    val s = Span(recorded.size, name, stack.headOption.map(_.id).getOrElse(-1),
      runId, System.nanoTime(), System.currentTimeMillis())
    recorded += s
    stack = s :: stack
    val prev = sc.getLocalProperty(Tracer.Property)
    sc.setLocalProperty(Tracer.Property, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.Property, prev)
      stack = stack.tail
    }
  }

  def spans: Seq[Span] = recorded.toSeq

  /** Span time not covered by its children. */
  def selfS(s: Span): Double = {
    val kids = recorded.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    s.wallS - Tracer.covered(kids.toSeq, s.startNs, s.endNs) / 1e9
  }

  /** Span time during which none of its own jobs was running. */
  def driverS(s: Span): Double = {
    val jobs = listener.workOf(s.id).jobIntervals.toSeq
    math.max(0.0,
      s.wallS - Tracer.covered(jobs, s.startMs, s.endMs) / 1e3)
  }
}

object Tracer {
  val Property = "perfbench.span"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((a, b) <- intervals.map { case (a, b) =>
        (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
        .sortBy(_._1)) {
      val from = math.max(a, reach)
      if (b > from) { total += b - from; reach = b }
    }
    total
  }
}
