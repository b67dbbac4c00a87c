package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One recorded interval: a call from the benchmark into a layer.
  * `parent` is the id of the enclosing span on the same thread (0 for a
  * root); times are `System.nanoTime` values. */
final case class Span(
    id: Long, parent: Long, name: String, start: Long, end: Long, run: String) {
  def dur: Long = end - start
}

/** In-memory span recorder, written out once when the run ends.
  *
  * Spans wrap the benchmark's own calls into the program's public
  * functions; nothing inside the program is instrumented. Recording is
  * off unless [[enabled]], so the untraced run pays one volatile read
  * per call site.
  */
object Trace {
  @volatile var enabled: Boolean = false
  @volatile var runId: String = ""

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, t0,
          System.nanoTime(), runId))
        stack.set(parents)
      }
    }

  def recorded: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.iterator().asScala.toVector
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = recorded.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.start.toString,
        "end_ns" -> s.end.toString, "run" -> Json.str(s.run)))
    }
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Total length of the union of intervals, each clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (children that overlap count once). */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(cs, s.start, s.end))
    }.toMap
  }
}
