package embedbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One span. Times are epoch nanoseconds so that spans taken on the
  * benchmark's clock and Spark's millisecond event times share one axis.
  * `parent` is 0 for a root span; spans of one request share `request`.
  */
final case class Span(
    id: Long, parent: Long, name: String, request: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans are kept until [[write]] at the end of
  * a run; a disabled tracer records nothing and costs one branch per call.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()

  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  /** Run `f` inside a span; returns the result and the span's id. */
  def span[A](name: String, request: String, parent: Long = 0L)(f: Long => A): A =
    if (!enabled) f(0L)
    else {
      val id = nextId()
      val t0 = now()
      try f(id)
      finally add(Span(id, parent, name, request, t0, now()))
    }

  def all: Vector[Span] = spans.synchronized(spans.toVector)

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(file))
    try {
      w.write("id\tparent\tname\trequest\tstart_ns\tend_ns\n")
      all.foreach { s =>
        w.write(s"${s.id}\t${s.parent}\t${s.name}\t${s.request}\t${s.start}\t${s.end}\n")
      }
    } finally w.close()
  }
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. Overlapping children (parallel tasks) count
    * once, and a child reaching outside its parent counts only inside it.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.dur - covered)
    }.toMap
  }

  /** Total self time per span name, in seconds. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.iterator.map(s => self(s.id)).sum / 1e9
    }
  }
}
