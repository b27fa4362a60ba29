package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** In-memory spans, written once when the benchmark ends. A span's
  * trace id is the id of its root span. Times are epoch microseconds
  * (Spark's listener events carry milliseconds). */
final class Tracer {
  final case class Span(id: Long, name: String, parent: Option[Long],
                        trace: Long, start: Long, var end: Long)

  private val spans = ArrayBuffer.empty[Span]

  def open(name: String, parent: Option[Long], start: Long): Long =
    synchronized {
      val id = spans.size.toLong + 1
      val traceId = parent.map(p => spans((p - 1).toInt).trace).getOrElse(id)
      spans += Span(id, name, parent, traceId, start, start)
      id
    }
  def close(id: Long, end: Long): Unit = synchronized { spans((id - 1).toInt).end = end }
  def span(name: String, parent: Option[Long], start: Long, end: Long): Long = {
    val id = open(name, parent, start)
    close(id, end)
    id
  }

  /** Duration minus the part of it that child spans cover. */
  def selfTime: Seq[(Span, Long)] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = Recorder.unionLength(kids.getOrElse(Some(s.id), Nil).toSeq
        .map(c => (c.start max s.start, c.end min s.end)).filter(c => c._2 > c._1))
      (s, (s.end - s.start) - covered)
    }
  }

  /** Spans and, per span name, the summed self time. */
  def write(path: String): Unit = {
    val self = selfTime
    val rows = self.map { case (s, own) =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent.getOrElse("null")},""" +
        s""""trace":${s.trace},"start_us":${s.start},"end_us":${s.end},"self_us":$own}"""
    }
    val byName = self.groupBy(_._1.name.takeWhile(_ != ':')).toSeq.sortBy(_._1)
      .map { case (n, xs) => s"${Json.str(n)}:${xs.map(_._2).sum}" }
    Files.writeString(Paths.get(path),
      s"""{"self_us_by_kind":{${byName.mkString(",")}},"spans":[\n${rows.mkString(",\n")}\n]}""" + "\n")
  }
}
