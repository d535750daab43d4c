package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are epoch nanoseconds so spans
 * taken from Spark's own progress reports (epoch millis) and spans taken
 * by the benchmark share one clock. `layer` is the name up to its first
 * dot: `store.seal` belongs to `store`. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Spans held in memory and written out when the run ends. Off unless
 * the run is traced; a span call then costs one closure invocation. */
object Trace {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs
  def epochMsToNs(ms: Long): Long = ms * 1000000L

  /** Time `f` as a span named `name`, child of the innermost open span on
   * this thread. */
  def span[A](name: String, op: Long = 0L)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = nowNs
      try f
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, name, op, t0, nowNs))
      }
    }

  /** Record a span measured elsewhere; returns its id for children. */
  def record(name: String, parent: Long, op: Long, startNs: Long,
      endNs: Long): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, op, startNs, math.max(startNs, endNs)))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def clear(): Unit = spans.clear()

  /** Self time of each span: its duration minus the part of its interval
   * that its children cover (children clipped to the parent). */
  def selfTimes(ss: Seq[Span]): Map[Long, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time per layer, in seconds. */
  def layerSelfSeconds(ss: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(ss)
    ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(s => self(s.id)).sum / 1e9
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
