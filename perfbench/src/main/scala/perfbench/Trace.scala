package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program: name, start, end, parent span and run
  * id, plus the Spark counters attributed to it while it was open.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val runId: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val counters: mutable.Map[String, Double] =
    mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def ms: Double = if (endNs < 0) 0.0 else (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run.
  *
  * A span is opened around each public call the benchmark makes. The span
  * id travels to Spark as a thread-local job property, so [[SparkCounters]]
  * can attribute every job, stage and task to the innermost open span. Jobs
  * of a streaming query are attributed to that stream's span instead (see
  * [[stream]]). When tracing is off, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val streamSpans = new ConcurrentHashMap[String, Integer]()
  @volatile private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = sc = context

  private def newSpan(name: String, parent: Int): Span = synchronized {
    val s = new Span(spans.size, name, parent, runId, System.nanoTime())
    spans += s
    s
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get
      val s = newSpan(name, stack.headOption.getOrElse(-1))
      val ctx = sc
      val prev = if (ctx == null) null else ctx.getLocalProperty(Tracer.SpanKey)
      open.set(s.id :: stack)
      if (ctx != null) ctx.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open.set(stack)
        if (ctx != null) ctx.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** A long-lived span for a streaming query; its jobs are attributed here. */
  def stream(name: String, queryId: String): Unit =
    if (enabled) streamSpans.put(queryId, Integer.valueOf(newSpan(name, -1).id))

  /** Ends the span of a stopped streaming query. */
  def endStream(queryId: String): Unit = synchronized {
    Option(streamSpans.remove(queryId)).foreach(id => spans(id.intValue).endNs = System.nanoTime())
  }

  def closeStreams(): Unit = synchronized {
    spans.filter(s => s.endNs < 0).foreach(_.endNs = System.nanoTime())
  }

  /** Span that owns a job submitted with these local properties. */
  private[perfbench] def owner(props: java.util.Properties): Int =
    if (props == null) -1
    else {
      val qid = props.getProperty("sql.streaming.queryId")
      val fromStream = if (qid == null) null else streamSpans.get(qid)
      if (fromStream != null) fromStream.intValue
      else Option(props.getProperty(Tracer.SpanKey)).map(_.toInt).getOrElse(-1)
    }

  def add(spanId: Int, key: String, v: Double): Unit = synchronized {
    if (spanId >= 0) spans(spanId).counters(key) += v
    else unattributed(key) += v
  }

  private val unattributed = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Counter summed over every span and over jobs outside any span. */
  def total(key: String): Double = synchronized {
    spans.iterator.map(_.counters(key)).sum + unattributed(key)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Self time of each span: its wall time minus the union of the
    * intervals its direct children cover (children clipped to the parent).
    */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          if (b > from) (sum + (b - from), b) else (sum, reach)
        }._1
      s.id -> math.max(0.0, (s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }
}

/** Spark's own job, stage and task counters, attributed to the span that
  * was open on the submitting thread when each job started.
  */
final class SparkCounters(tracer: Tracer) extends SparkListener {
  private val stageOwner = new ConcurrentHashMap[Integer, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val owner = tracer.owner(e.properties)
    e.stageIds.foreach(id => stageOwner.put(id, owner))
    tracer.add(owner, "jobs", 1)
  }

  private def ownerOf(stageId: Int): Int =
    Option(stageOwner.get(stageId)).map(_.intValue).getOrElse(-1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    tracer.add(ownerOf(e.stageInfo.stageId), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val o = ownerOf(e.stageId)
      tracer.add(o, "tasks", 1)
      tracer.add(o, "task_run_ms", m.executorRunTime.toDouble)
      tracer.add(o, "task_cpu_ms", m.executorCpuTime / 1e6)
      tracer.add(o, "gc_ms", m.jvmGCTime.toDouble)
      tracer.add(o, "shuffle_bytes",
        (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten).toDouble)
      tracer.add(o, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      tracer.add(o, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }
}
