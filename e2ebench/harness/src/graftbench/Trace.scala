package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** In-memory spans: (id, name, start, end, parent, run id). Nesting on
  * one thread follows a thread-local stack; spans built from listener
  * events name their parent explicitly. Nothing is written until
  * [[write]], so recording costs one allocation and a lock per span.
  * When `enabled` is false, [[span]] runs its body and records nothing. */
final class Trace(runId: String, val enabled: Boolean) {
  import Trace.Span

  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def now(): Long = System.nanoTime() - origin

  def span[A](name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val start = now()
      try body
      finally {
        stack.set(stack.get.tail)
        add(Span(id, name, start, now(), parent, attrs))
      }
    }

  /** Record a finished span with explicit times; returns its id. */
  def record(name: String, start: Long, end: Long, parent: Long = 0L,
      attrs: Map[String, Any] = Map.empty): Long = {
    val id = nextId.incrementAndGet()
    if (enabled) add(Span(id, name, start, end, parent, attrs))
    id
  }

  /** Re-parent spans matching `p` under `parent` (used to hang state
    * spans, recorded on the stream thread, under the batch they ran in). */
  def adopt(parent: Long)(p: Span => Boolean): Unit = synchronized {
    spans.indices.foreach { i =>
      if (p(spans(i))) spans(i) = spans(i).copy(parent = parent)
    }
  }

  private def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time (duration minus direct children) summed per layer, the
    * layer being the span name up to its first dot. */
  def selfTimesMs(): java.util.Map[String, AnyRef] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val out = new java.util.TreeMap[String, AnyRef]()
    ss.groupBy(_.name.takeWhile(_ != '.')).foreach { case (layer, xs) =>
      out.put(layer, Double.box(xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum))
    }
    out
  }

  def write(path: String): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      m.put("id", Long.box(s.id)); m.put("name", s.name)
      m.put("start_ms", Double.box(s.start / 1e6)); m.put("end_ms", Double.box(s.end / 1e6))
      m.put("parent", Long.box(s.parent)); m.put("run_id", runId)
      m.put("attrs", s.attrs.map { case (k, v) => k -> v.toString }.asJava)
      Harness.mapper.writeValueAsString(m)
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  final case class Span(id: Long, name: String, start: Long, end: Long,
      parent: Long, attrs: Map[String, Any]) {
    def ms: Double = (end - start) / 1e6
  }
}
