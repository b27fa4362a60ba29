package graft.operators

/** `?since=` request-value parsing for `GET /routes/{route}?since=...`
  * (internal/kinesis2sse/service.go:226-242): the
  * reference's two accepted forms, an RFC3339 instant or a Go duration
  * meaning that-long-ago. [[graft.streaming.SseHttpServer]] parses with
  * [[parseSinceNs]] and hands the instant to the hub's seek,
  * [[graft.streaming.SseHub.resolveSinceOffset]], which states the one
  * `since` → offset rule.
  */
object EventLogService {

  private val UnitNs: Map[String, Long] = Map(
    "ns" -> 1L, "us" -> 1000L, "µs" -> 1000L, "μs" -> 1000L,
    "ms" -> 1000000L, "s" -> 1000000000L,
    "m" -> 60L * 1000000000L, "h" -> 3600L * 1000000000L)

  // Go's fractional grammar: "1h", "1.5h", "1.h", ".5h" are all valid
  // time.ParseDuration inputs (service.go:234)
  private val DurTermRe = """(\d+\.?\d*|\.\d+)(ns|us|µs|μs|ms|s|m|h)""".r

  /** Go-style duration string → nanos ("300ms", "1h", "2h45m",
    * "1.5h"; time.ParseDuration's grammar, positive terms only —
    * a negative `since` duration has no meaning for a resume).
    * Overflow (per-term past Long nanos, or across summed terms)
    * returns None, matching Go's ParseDuration overflow error — a
    * saturating cast would let two clamped terms wrap negative and
    * silently resolve a future `since`. */
  def parseGoDurationNs(s: String): Option[Long] = {
    val body = if (s.startsWith("+")) s.drop(1) else s
    if (body == "0") Some(0L)
    else {
      val terms = DurTermRe.findAllMatchIn(body).toSeq
      if (terms.isEmpty || terms.map(_.matched).mkString != body) None
      else try {
        Some(terms.foldLeft(0L) { (acc, m) =>
          val v = m.group(1).toDouble * UnitNs(m.group(2))
          if (!(v < Long.MaxValue.toDouble)) throw new ArithmeticException("overflow")
          Math.addExact(acc, v.toLong)
        })
      } catch { case _: ArithmeticException => None }
    }
  }

  /** `?since=` request-value parsing, the reference's two accepted
    * forms (service.go:228-242): an RFC3339 instant
    * ("2024-01-15T00:00:00Z") taken literally, or a Go duration
    * ("1h") meaning that-long-ago relative to `nowNs`. Left is the
    * reference's HTTP 400 path. */
  def parseSinceNs(s: String, nowNs: Long): Either[String, Long] =
    parseGoDurationNs(s) match {
      case Some(agoNs) => Right(nowNs - agoNs)
      case None =>
        try {
          val odt = java.time.OffsetDateTime.parse(
            s, java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)
          val inst = odt.toInstant
          Right(Math.addExact(
            Math.multiplyExact(inst.getEpochSecond, 1000000000L), inst.getNano.toLong))
        } catch {
          case _: java.time.format.DateTimeParseException | _: ArithmeticException =>
            Left(s"invalid since value (want RFC3339 or duration): $s")
        }
    }
}
