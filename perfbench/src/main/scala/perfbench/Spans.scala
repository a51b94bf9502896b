package perfbench

import scala.collection.mutable.ArrayBuffer

/** Spans recorded by the benchmark around its own calls into each layer:
  * name, start, end (epoch ms, sub-ms precision), parent and run id. Kept
  * in memory and written out once, when the run ends.
  */
final class Spans(runId: String) {
  import Spans.Span

  private val done = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1

  /** Run `body` inside a span named `name`, nested under the open span. */
  def apply[T](name: String, attrs: Map[String, Any] = Map.empty)(
      body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val s = Clock.epochMs()
    try {
      val out = body
      val span = Span(id, name, parent, s, Clock.epochMs(), attrs)
      done += span
      (out, span)
    } finally stack = stack.tail
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.startMs).map { s =>
      Json(scala.collection.immutable.ListMap[String, Any](
        "run_id" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++
        s.attrs)
    }
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, startMs: Double,
      endMs: Double, attrs: Map[String, Any]) {
    def seconds: Double = (endMs - startMs) / 1000.0
  }
}

/** Epoch time read off the monotonic clock, shared by spans and the crawl
  * legs' start times so both line up with the store's commit times.
  */
object Clock {
  private val epoch0Us = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private val nano0 = System.nanoTime()
  def epochUs(): Long = epoch0Us + (System.nanoTime() - nano0) / 1000L
  def epochMs(): Double = epochUs() / 1000.0
}
