package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Spans and listener counts of a traced run, kept in memory and written
  * out when the run ends.
  *
  * A span is recorded around one public call into a layer. Jobs started
  * inside a span carry its id as the `perfbench.span` local property
  * (inherited by threads the call starts), so every job, stage and task
  * is attributed to the innermost span that launched it, however late
  * the asynchronous listener bus delivers the event.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  /** Whether spans are being recorded right now; a traced run switches it
    * off for the untraced cycles that measure the tracing overhead. */
  @volatile var on: Boolean = enabled

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis() / 1e3
  /** Seconds since the epoch, on a clock monotonic within the run. */
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e9

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** Runs `body` inside a span named `name`, child of the calling thread's
    * open span. With tracing off it only runs `body`. */
  def span[A](sc: SparkContext, name: String, req: String)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.get().headOption.getOrElse(-1)
      val id = synchronized { nextId += 1; nextId }
      // no context yet while the session itself starts
      val prevProp = Option(sc).map(_.getLocalProperty(SpanProp)).orNull
      Option(sc).foreach(_.setLocalProperty(SpanProp, id.toString))
      stack.set(id :: stack.get())
      val start = now()
      try body
      finally {
        val end = now()
        stack.set(stack.get().tail)
        Option(sc).foreach(_.setLocalProperty(SpanProp, prevProp))
        synchronized { spans += Span(id, name, req, parent, start, end) }
      }
    }

  /** Records a span measured by someone else (Catalyst's own phase
    * timings). Parent -2 leaves the parent to be found by time
    * containment when the record is read. */
  def record(name: String, req: String, parent: Int, start: Double,
      end: Double): Unit =
    if (on) synchronized {
      nextId += 1
      spans += Span(nextId, name, req, parent, start, end)
    }

  val listener = new Collector
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, req: String, parent: Int,
      start: Double, end: Double)

  final case class TaskRec(span: String, stage: Int, launch: Double,
      finish: Double, runS: Double, cpuS: Double, gcS: Double,
      inBytes: Long, inRows: Long, swBytes: Long, srBytes: Long,
      fetchWaitS: Double, spill: Long, outBytes: Long, attempt: Int,
      ok: Boolean)

  /** Listener counts by span: jobs and stages by the span that started
    * them, and every finished task with its metrics. */
  final class Collector extends SparkListener {
    val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val tasks = ArrayBuffer.empty[TaskRec]

    private def spanOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(SpanProp))).getOrElse("-1")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.putIfAbsent(e.stageInfo.stageId, spanOf(e.properties))

    /** Time spent in this listener's handlers: part of the tracing
      * overhead, measured where it is spent. */
    val handlerNanos = new java.util.concurrent.atomic.AtomicLong

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val h0 = System.nanoTime()
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      val rec = TaskRec(
        span = Option(stageSpan.get(e.stageId)).getOrElse("-1"),
        stage = e.stageId,
        launch = i.launchTime / 1e3, finish = i.finishTime / 1e3,
        runS = m.map(_.executorRunTime / 1e3).getOrElse(0.0),
        cpuS = m.map(_.executorCpuTime / 1e9).getOrElse(0.0),
        gcS = m.map(_.jvmGCTime / 1e3).getOrElse(0.0),
        inBytes = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        inRows = m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        swBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        srBytes = m.map(x => x.shuffleReadMetrics.remoteBytesRead +
          x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        fetchWaitS = m.map(_.shuffleReadMetrics.fetchWaitTime / 1e3).getOrElse(0.0),
        spill = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        outBytes = m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
        attempt = i.attemptNumber, ok = i.successful)
      synchronized { tasks += rec }
      handlerNanos.addAndGet(System.nanoTime() - h0); ()
    }

    /** The listener bus is asynchronous: wait until the task count stops
      * moving before the counts are read. */
    def settle(): Unit = {
      var last = -1
      var n = synchronized(tasks.size)
      while (n != last) {
        Thread.sleep(200)
        last = n
        n = synchronized(tasks.size)
      }
    }
  }
}
