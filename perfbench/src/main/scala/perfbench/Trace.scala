package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Listener totals of the Spark work attributed to one span. */
final class Totals {
  var jobs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
}

/** One timed call into a layer. Times are `System.nanoTime` values. */
final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Records spans around calls into the engine's layers and attributes the
  * Spark jobs each call starts to it.
  *
  * A span id travels with the job as a local property, so the listener can
  * attribute every job (and its stages' task metrics) to the span that was
  * active when the job was submitted, on whatever thread submitted it.
  * Spans stay in memory and are written out when the run ends; every span
  * of a run carries its `runId`. A tracer starts disabled, with its
  * listener detached.
  */
final class Tracer(sc: SparkContext, runId: String) extends SparkListener {
  val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val totals = mutable.HashMap.empty[Int, Totals]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val origin = System.nanoTime()

  private var on = false

  /** When false, `span` only times the call: it keeps no span, sets no
    * local property, and the listener is detached from the bus. The
    * end-to-end runs and the untraced leg of the tracing-overhead
    * comparison run this way. */
  def enabled: Boolean = on
  def enabled_=(v: Boolean): Unit = if (v != on) {
    if (v) sc.addSparkListener(this)
    else {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(this)
    }
    on = v
  }

  def span[T](name: String)(body: => T): (T, Span) = {
    if (!on) {
      val t0 = System.nanoTime()
      val r = body
      return (r, Span(-1, name, -1, t0, System.nanoTime()))
    }
    val s = spans.synchronized {
      val sp = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += sp
      sp
    }
    val prev = sc.getLocalProperty(Prop)
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    try (body, s)
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Listener totals of one span (its own jobs only, not its children's). */
  def totalsOf(s: Span): Totals = {
    if (on) org.apache.spark.perfbench.Bus.drain(sc)
    totals.synchronized(totals.getOrElse(s.id, new Totals))
  }

  /** Jobs, tasks and metrics of a span and all of its descendants (none for
    * the untraced spans a disabled tracer returns). */
  def subtreeTotals(s: Span): Totals = {
    if (s.id < 0) return new Totals
    if (on) org.apache.spark.perfbench.Bus.drain(sc)
    val ids = descendants(s.id) + s.id
    val acc = new Totals
    totals.synchronized {
      ids.flatMap(totals.get).foreach { t =>
        acc.jobs += t.jobs; acc.cpuNs += t.cpuNs
        acc.gcMs += t.gcMs; acc.inputBytes += t.inputBytes
        acc.inputRecords += t.inputRecords
        acc.shuffleWriteBytes += t.shuffleWriteBytes; acc.spillBytes += t.spillBytes
        acc.peakExecMem = math.max(acc.peakExecMem, t.peakExecMem)
      }
    }
    acc
  }

  private def descendants(id: Int): Set[Int] = spans.synchronized {
    val kids = spans.filter(_.parent == id).map(_.id).toSet
    kids ++ kids.flatMap(descendants)
  }

  /** Self time: a span's duration minus the time its children cover. */
  def selfSeconds(s: Span): Double = spans.synchronized {
    s.seconds - spans.filter(c => c.parent == s.id && c.end >= 0).map(_.seconds).sum
  }

  /** Every finished span, with its self time and its own Spark jobs. */
  def dump(): Seq[Map[String, Any]] = spans.synchronized(spans.toList).filter(_.end >= 0).map { s =>
    Map("run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> (s.start - origin) / 1e6, "end_ms" -> (s.end - origin) / 1e6,
      "self_s" -> selfSeconds(s), "jobs" -> totalsOf(s).jobs)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
    id.foreach { sid =>
      totals.synchronized {
        totals.getOrElseUpdate(sid, new Totals).jobs += 1
        e.stageIds.foreach(st => stageSpan(st) = sid)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    totals.synchronized {
      stageSpan.get(e.stageId).foreach { sid =>
        val t = totals.getOrElseUpdate(sid, new Totals)
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
}

/** Input records read by every task: the one listener of the untraced
  * query passes, which needs no span attribution. */
final class RecordsRead extends SparkListener {
  @volatile var total = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) total += e.taskMetrics.inputMetrics.recordsRead
}
