package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a graft layer, recorded by the benchmark around
  * the call. `parent` is the enclosing span's id (-1 for an op's root),
  * `op` the id of the benchmark op that caused it. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    module: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. The benchmark drives graft from one thread,
  * so a plain stack gives every span its parent. Disabled, `span` only
  * runs its body: untraced runs pay one branch per layer call. */
final class Tracer(var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile var op: Int = -1

  def span[T](module: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, module, t0, System.nanoTime())
      }
    }

  /** Every span so far; set-up and untimed calls carry op = -1. */
  def all: Seq[Span] = spans.toSeq
}

object Trace {
  /** Self time per module: a span's duration minus the part of its
    * interval that its direct children cover. */
  def selfNsByModule(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.module) { s =>
      val kids = children.getOrElse(s.id, Nil).sortBy(_.startNs)
      var covered = 0L
      var end = s.startNs
      kids.foreach { k =>
        val from = math.max(k.startNs, end)
        val to = math.min(k.endNs, s.endNs)
        if (to > from) { covered += to - from; end = to }
      }
      s.durNs - covered
    }(_ + _)
  }

  /** Spans as strict JSON lines, one object per span. */
  def jsonLines(spans: Seq[Span]): Iterator[String] = spans.iterator.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "module" -> s.module, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs))
  }
}
