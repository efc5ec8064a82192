package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** One timed call into a layer. `parent` is -1 for a root span; spans
  * caused by one tick, batch or query share a `trace` id.
  */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the benchmark's calls into graft.
  *
  * Disabled, `span` only evaluates its body: the untraced run pays for
  * neither the bookkeeping nor the Spark listener. Enabled, each span
  * also tags the Spark jobs its thread submits with the span name (a
  * local property), so [[EngineCounters]] can charge engine work to
  * the span that caused it.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }
  private var nextId = 0

  val counters: Option[EngineCounters] =
    if (enabled) { val c = new EngineCounters; sc.addSparkListener(c); Some(c) } else None

  def span[T](name: String, trace: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val id = synchronized { nextId += 1; nextId }
      val tr = if (trace.nonEmpty) trace else outer.headOption.map(_._2).getOrElse(name)
      val prevProp = sc.getLocalProperty(EngineCounters.SpanKey)
      sc.setLocalProperty(EngineCounters.SpanKey, name)
      stack.set((id, tr) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(EngineCounters.SpanKey, prevProp)
        synchronized { done += Span(id, outer.headOption.map(_._1).getOrElse(-1), tr, name, t0, t1) }
      }
    }

  /** Record a span measured elsewhere (e.g. a streaming batch, whose
    * start and end come from Spark's progress report).
    */
  def record(name: String, trace: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      done += Span(nextId, -1, trace, name, startNs, endNs)
    }

  def spans: Seq[Span] = synchronized(done.toList)

  /** Forget the warm-up: its spans and its engine work. */
  def reset(): Unit = {
    synchronized(done.clear())
    counters.foreach { c => c.settle(); c.reset() }
  }
}

object Tracer {

  /** Self time of each span: its duration minus the part of it that its
    * children cover (children may overlap each other).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Spark work charged to benchmark spans: jobs, stages, shuffle and
  * spill bytes, bytes read and written. A job belongs to the span named
  * by its submitting thread's local property; jobs of a streaming query
  * carry the query id instead and are charged to `streaming.batch`.
  */
final class EngineCounters extends SparkListener {
  import EngineCounters._

  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val p = e.properties
    val span =
      if (p != null && p.getProperty(StreamQueryKey) != null) "streaming.batch"
      else Option(p).flatMap(x => Option(x.getProperty(SpanKey))).getOrElse("other")
    e.stageIds.foreach(stageSpan(_) = span)
    totals(s"$span.jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(events += 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val info = e.stageInfo
    val span = stageSpan.getOrElse(info.stageId, "other")
    totals(s"$span.stages") += 1
    Option(info.taskMetrics).foreach { m =>
      totals(s"$span.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      totals(s"$span.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      totals(s"$span.input_bytes") += m.inputMetrics.bytesRead
      totals(s"$span.output_bytes") += m.outputMetrics.bytesWritten
    }
  }

  /** Wait until the asynchronous listener bus has gone quiet, so the
    * totals include every job the benchmark ran.
    */
  def settle(): Unit = {
    var last = -1L
    while (last != events) { last = events; Thread.sleep(300) }
  }

  def reset(): Unit = synchronized(totals.clear())

  def get(span: String, counter: String): Long = synchronized(totals(s"$span.$counter"))
}

object EngineCounters {
  val SpanKey = "graftbench.span"
  val StreamQueryKey = "sql.streaming.queryId"
}
