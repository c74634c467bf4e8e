package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded span: a layer call made by the benchmark. Times are
  * `System.nanoTime` values; `parent` is 0 for a root span. Spans of
  * one benchmark run share `runId`. */
final case class Span(id: Long, name: String, parent: Long, runId: String,
                      thread: String, start: Long, end: Long)

/** Spans around each layer call, kept in memory and written out when
  * the run ends. A disabled tracer runs the body and records nothing,
  * so untraced runs pay only a branch. `onEnter` receives the id of
  * the span that becomes current on this thread (0 when none), which
  * [[Census]] uses to tie Spark jobs to spans. */
final class Tracer(val enabled: Boolean, val runId: String,
                   onEnter: Long => Unit = _ => ()) {
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent: Long = current.get()
      val id = ids.incrementAndGet()
      current.set(id); onEnter(id)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, parent, runId, Thread.currentThread().getName,
          t0, System.nanoTime()))
        current.set(parent); onEnter(parent)
      }
    }

  /** The span current on this thread (0 when none). */
  def currentId: Long = current.get()

  /** Makes `parent` the current span of this thread, so spans a worker
    * thread records hang under the span that started it. */
  def adopt(parent: Long): Unit = { current.set(parent); onEnter(parent) }

  def spans: Vector[Span] = done.asScala.toVector.sortBy(_.start)

  /** Self time in nanoseconds of every recorded span. */
  def selfNanos: Map[Long, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      s.id -> Stats.selfTime(s.start, s.end,
        kids.getOrElse(s.id, Vector.empty).map(c => (c.start, c.end)))
    }.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run_id" -> s.runId, "thread" -> s.thread,
        "start_ns" -> s.start, "end_ns" -> s.end)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Minimal JSON rendering for the benchmark's own output. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null              => "null"
    case s: String         => str(s)
    case b: Boolean        => b.toString
    case d: Double         =>
      if (d.isNaN) "null"
      else if (d.isInfinite) (if (d > 0) Double.MaxValue else -Double.MaxValue).toString
      else d.toString
    case f: Float          => value(f.toDouble)
    case n: Int            => n.toString
    case n: Long           => n.toString
    case r: Raw            => r.json
    case m: Map[_, _]      => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
                                .mkString("{", ",", "}")
    case xs: Iterable[_]   => xs.map(value).mkString("[", ",", "]")
    case other             => str(other.toString)
  }

  final case class Raw(json: String)

  /** An object with keys in the given order. */
  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
