package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** A span around one call into a layer's public function. `req` is
  * the id of the root span of the request it belongs to; all its
  * sub-spans share it. Times are System.nanoTime values. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run. Off by default: then
  * [[Trace.span]] is a plain call. Spans stay in memory and are
  * written out once, when the run ends. */
object Trace {
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  /** (span id, request id) of the innermost open span on this thread. */
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** The calling thread's open span, to hand to a worker thread. */
  def context: (Long, Long) = current.get

  /** Run `f` on this thread as if inside the span `ctx`. */
  def within[T](ctx: (Long, Long))(f: => T): T = {
    val saved = current.get
    current.set(ctx)
    try f finally current.set(saved)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val (parent, req0) = current.get
      val id = ids.incrementAndGet()
      val req = if (req0 == 0L) id else req0
      current.set((id, req))
      val t0 = System.nanoTime()
      try f
      finally {
        done.add(Span(id, parent, req, name, t0, System.nanoTime()))
        current.set((parent, req0))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  def reset(): Unit = done.clear()

  /** Durations (ms) of every span named `name`. */
  def durations(name: String): Seq[Double] =
    done.asScala.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Self time per span: its duration minus the union of the intervals
    * its direct children cover (children may overlap when they ran on
    * worker threads). */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  /** One JSON object per span, with its self time. */
  def write(path: java.nio.file.Path): Unit = {
    val all = spans.sortBy(_.startNs)
    val self = selfTimes(all)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(f"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${self(s.id) / 1e6}%.3f}""" + "\n")
    } finally w.close()
  }
}
