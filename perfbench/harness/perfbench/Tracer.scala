package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Spans around every call the benchmark makes into a layer, plus Spark
  * job/stage/task counts attributed to the innermost open span.
  *
  * Attribution rides on a Spark local property: a job inherits the span
  * id that was current on the thread that submitted it (stream threads
  * inherit it from the thread that started the stream). All state sits
  * behind one lock, and readers first wait for the listener bus to
  * deliver every posted event, so no sleep is involved. When tracing is
  * off, `span` only runs its body.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private var nextId = 1
  private var current = 0
  private var on = false

  def enabled: Boolean = lock.synchronized(on)

  /** Starts or stops recording; the listener is attached only while on. */
  def enable(flag: Boolean): Unit = {
    val was = lock.synchronized { val w = on; on = flag; w }
    if (flag && !was) sc.addSparkListener(this)
    if (!flag && was) { drain(); sc.removeSparkListener(this) }
  }

  def span[T](name: String, op: Int, pass: Int)(body: => T): T = {
    val s = lock.synchronized {
      if (!on) null
      else {
        val s = Span(nextId, name, current, op, pass, System.nanoTime())
        nextId += 1; spans += s; current = s.id; s
      }
    }
    if (s == null) body
    else {
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        val end = System.nanoTime()
        sc.setLocalProperty(SpanKey, prev)
        lock.synchronized { s.end = end; current = s.parent }
      }
    }
  }

  def drain(): Unit = PerfbenchBridge.drainListeners(sc)

  /** Snapshot of finished spans and their counts, after draining. */
  def snapshot(): (Seq[Span], Map[Int, Counts]) = {
    drain()
    lock.synchronized((spans.toList, counts.map { case (k, c) => k -> c.copy() }.toMap))
  }

  private def at(spanId: Int): Counts = counts.getOrElseUpdate(spanId, Counts())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(0)
    lock.synchronized {
      at(id).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).foreach { id =>
      val c = at(id)
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int, pass: Int,
      start: Long, var end: Long = 0L)

  final case class Counts(var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
      var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0, var fetchWaitMs: Long = 0,
      var shuffleWriteBytes: Long = 0, var shuffleReadBytes: Long = 0, var spillBytes: Long = 0) {
    def +=(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
      shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
      spillBytes += o.spillBytes
    }
  }
}
