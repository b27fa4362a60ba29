package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Facade composing the event-log primitives into the reference's
  * user-visible request flow
  * (/root/reference/internal/kinesis2sse/service.go:217-283): a client
  * subscribes to a ROUTE with an optional `since` instant and receives
  * SSE frames from the resolved offset onward.
  *
  * Batch semantics of `GET /routes/{route}?since=...`: resolve since →
  * offset (forward seek, backward fallback), then frame everything at
  * or after it. Serving resolves `since` in the hub's ring instead
  * (graft.streaming.SseHub.resolveSinceOffset), forward only: with no
  * retained event at or after `since`, a client gets a live tail.
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

  /** Request-shaped entry: parse `since` (either form), then resolve +
    * frame. Left is the 400 path — malformed input never reaches the
    * query. */
  def framesSinceRequest(spark: SparkSession, dir: String, route: String,
                         since: String, nowNs: Long): Either[String, DataFrame] =
    parseSinceNs(since, nowNs).map(framesSince(spark, dir, route, _))

  /** Frames a client resuming at `sinceNs` on `route` would receive,
    * in offset order. Route + time predicates are pushed to the scan. */
  def framesSince(spark: SparkSession, dir: String, route: String,
                  sinceNs: Long): DataFrame = {
    val ev = Tables.events(spark, dir).where(col("event_type") === route)
    // nearest-offset resolution (timestamp2offset.go:60-80) as a tiny
    // broadcast aggregate: min offset at-or-after, else max before
    val resolved = ev.agg(
      min(when(col("ts") >= sinceNs, col("event_id"))).as("fwd"),
      max(when(col("ts") < sinceNs, col("event_id"))).as("bwd"))
      .select(coalesce(col("fwd"), col("bwd")).as("start_offset"))
    ev.crossJoin(broadcast(resolved))
      .where(col("event_id") >= col("start_offset"))
      .select(col("event_id"),
        EventLogOps.sseFrameCol(col("ts_us"), col("props")).as("frame"))
      .orderBy("event_id")
  }
}
