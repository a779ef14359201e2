package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Spark counters are filled in by
  * [[SpanListener]] for the jobs submitted while this span was the
  * innermost open one on the submitting thread.
  */
final class Span(val id: Long, val parent: Long, val name: String,
    val req: Long, val startNs: Long) {
  @volatile var endNs: Long = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var schedDelayMs = 0.0
  var runMs = 0.0
  var cpuMs = 0.0
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L

  def durMs: Double = (endNs - startNs) / 1e6
}

/** Span recorder: spans are kept in memory and written out as JSON lines
  * when the run ends. The innermost span's id travels to Spark as a
  * thread-local job property, so jobs started from other threads never
  * mix their counts into it. Disabled, [[span]] is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val ids = new AtomicLong(0L)
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  @volatile private var sc: SparkContext = _
  private var listener: SpanListener = _

  def attach(ctx: SparkContext): Unit = if (enabled) {
    sc = ctx
    listener = new SpanListener(this)
    ctx.addSparkListener(listener)
  }

  private[perfbench] def lookup(id: String): Option[Span] =
    Option(id).flatMap(s => Option(byId.get(s.toLong)))

  /** Time `body` as a span named `name`; `req` groups the spans of one
    * request (inherited from the enclosing span when not given).
    */
  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get()
      val parent = stack.headOption
      val s = new Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L),
        name, if (req >= 0) req else parent.map(_.req).getOrElse(0L),
        System.nanoTime())
      byId.put(s.id, s)
      all.add(s)
      open.set(s :: stack)
      if (sc != null) sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open.set(stack)
        if (sc != null)
          sc.setLocalProperty(Tracer.Key, parent.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchAccess.drain(sc)

  def spans: Seq[Span] = { drain(); all.toArray(Array.empty[Span]).toSeq }

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Self time per span name: each span's duration minus its direct
    * children's. Rows: (name, calls, total ms, self ms).
    */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val ss = spans.filter(_.endNs > 0)
    val childMs = mutable.Map[Long, Double]().withDefaultValue(0.0)
    ss.foreach(s => if (s.parent != 0L) childMs(s.parent) += s.durMs)
    ss.groupBy(_.name).toSeq.map { case (n, xs) =>
      (n, xs.size, xs.map(_.durMs).sum,
        xs.map(s => math.max(0.0, s.durMs - childMs(s.id))).sum)
    }.sortBy(-_._4)
  }

  def dump(file: File, header: String): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try {
      w.println(header)
      spans.sortBy(_.id).foreach { s =>
        w.println(Out.obj(Seq(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
          "sched_delay_ms" -> s.schedDelayMs, "run_ms" -> s.runMs,
          "cpu_ms" -> s.cpuMs, "input_bytes" -> s.inputBytes,
          "input_records" -> s.inputRecords,
          "output_bytes" -> s.outputBytes,
          "shuffle_bytes" -> s.shuffleBytes)))
      }
    } finally w.close()
  }
}

object Tracer {
  val Key = "perfbench.span"
}

/** The bench's single listener: attributes jobs, stages, tasks, scheduler
  * delay, executor time, input, output and shuffle bytes to the span
  * whose id the submitting thread carried. Runs on the listener-bus
  * thread; readers call [[Tracer.drain]] first.
  */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => tracer.lookup(p.getProperty(Tracer.Key)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach(s => s.synchronized { s.jobs += 1 })

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) s.synchronized {
      s.tasks += 1
      val info = e.taskInfo
      s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      s.runMs += m.executorRunTime
      s.cpuMs += m.executorCpuTime / 1e6
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
    }
  }
}
