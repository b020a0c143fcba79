package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext

/** One timed interval. `parent` is 0 for a root span; every span of one
  * request carries that request's `req` id (0 = not inside a request). */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run.
  *
  * Spans are recorded only around calls from this benchmark into an engine
  * module, plus the Spark job and task spans that [[JobProbe]] derives
  * from public listener events; the engine itself is not instrumented.
  * While a span is open its id rides on a Spark thread-local property, so
  * the jobs it submits become its children.
  *
  * With `enabled = false` every span is a pass-through: the untraced run
  * pays one thread-local read per call. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val reqIds = new AtomicLong(0)
  /** The calling thread's open span and request; `on` = being traced. */
  private final case class Ctx(span: Long, req: Long, on: Boolean)
  private val current = new ThreadLocal[Ctx] {
    override def initialValue(): Ctx = Ctx(0L, 0L, on = false)
  }

  def nextReqId(): Long = reqIds.incrementAndGet()

  /** Run `f` as request `req`, traced as a root span named `name` when
    * tracing is on and `traced`. The request id is set as the Spark job
    * group either way, so listener counters are attributed per request in
    * both runs. */
  def request[A](name: String, req: Long, traced: Boolean = true)(f: => A): A = {
    val saved = current.get
    sc.setJobGroup(Tracer.groupOf(req), name, interruptOnCancel = false)
    current.set(Ctx(0L, req, on = enabled && traced))
    try span(name)(f)
    finally {
      current.set(saved)
      publish(saved)
      sc.clearJobGroup()
    }
  }

  /** Time `f` as a child of the calling thread's open span (pass-through
    * outside a traced request). */
  def span[A](name: String)(f: => A): A = {
    val c = current.get
    if (!c.on) return f
    val id = ids.incrementAndGet()
    val inner = Ctx(id, c.req, on = true)
    current.set(inner)
    publish(inner)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, c.span, c.req, name, t0, System.nanoTime()))
      current.set(c)
      publish(c)
    }
  }

  def newSpanId(): Long = ids.incrementAndGet()

  /** Record a span derived from an event source (the Spark listener). */
  def add(name: String, parent: Long, req: Long, startNs: Long, endNs: Long,
          id: Long = 0L): Unit =
    if (enabled) spans.add(Span(if (id != 0L) id else newSpanId(), parent,
      req, name, startNs, endNs))

  private def publish(c: Ctx): Unit = {
    sc.setLocalProperty(Tracer.SpanProp,
      if (c.on && c.span != 0L) c.span.toString else null)
  }

  def all: Seq[Span] = {
    val b = Vector.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }

  /** Write every span as one JSON object per line. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val GroupPrefix = "perfbench-req-"
  def groupOf(req: Long): String = GroupPrefix + req

  /** Layer of a span name: its first dot-separated component. */
  def layerOf(name: String): String = name.takeWhile(_ != '.')

  /** Self time of every span: its duration minus the union of the
    * intervals its children cover (children clipped to the parent, since
    * Spark job events are stamped by another clock source). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.durNs - covered)
    }.toMap
  }
}
