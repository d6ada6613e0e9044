package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One traced interval. `op` groups every span one benchmark operation
  * caused; `kind` is `bench` for the benchmark's own call sites, `job`
  * and `stage` for Spark work hung under them, `batch` for streaming
  * micro-batches. Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    kind: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Disabled, `span` only runs its body, so
  * untraced runs pay nothing but a branch. Spans are written out once,
  * when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000

  /** Records `name` around `f`, as a child of this thread's open span
    * (or as the root of a new operation). */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.get().headOption
      val id = ids.incrementAndGet()
      val open = Span(id, parent.map(_.id).getOrElse(0L),
        parent.map(_.op).getOrElse(id), name, "bench", nowUs, 0L)
      stack.set(open :: stack.get())
      try f
      finally {
        stack.set(stack.get().tail)
        spans.add(open.copy(endUs = nowUs))
      }
    }

  /** Adds an interval observed elsewhere (a listener) under `parent`. */
  def add(name: String, kind: String, startUs: Long, endUs: Long,
      parent: Option[Span]): Span = {
    val id = ids.incrementAndGet()
    val s = Span(id, parent.map(_.id).getOrElse(0L),
      parent.map(_.op).getOrElse(id), name, kind, startUs, endUs)
    if (enabled) spans.add(s)
    s
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  /** The deepest benchmark span open at `tUs`: where a listener
    * interval that began then belongs. */
  def enclosing(tUs: Long, among: Seq[Span]): Option[Span] =
    among.filter(s => s.startUs <= tUs && tUs <= s.endUs)
      .maxByOption(s => (s.startUs, s.id))

  def write(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get(path))
    try all.foreach { s =>
      w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "kind" -> s.kind, "start_us" -> s.startUs,
        "end_us" -> s.endUs)))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Per span name: (count, total µs, self µs), where a span's self
    * time is its duration minus the part of it its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, (Int, Long, Long)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(_.durUs).sum
      val self = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        s.durUs - Stats.unionLength(kids)
      }.sum
      name -> (ss.size, total, self)
    }
  }
}
