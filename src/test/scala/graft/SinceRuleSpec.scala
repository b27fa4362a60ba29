package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions.{col, expr}

import graft.operators.EventLogOps
import graft.streaming.SseHub

/** The one `since` rule (stated at [[SseHub.resolveSinceOffset]]:
  * smallest offset at/after the instant, else the largest earlier
  * offset; timestamp2offset.go:60-80) as one table of cases, run
  * against every form that resolves an instant to an offset:
  *
  *  - `EventLogOps.nearestOffsetFor` (batch, hour-aligned probes);
  *  - `EventLogOps.startPosition`'s AT_TIMESTAMP row (batch);
  *  - the hub: the first offset a subscription seeked with
  *    `resolveSinceOffset` replays.
  *
  * Each case is one single-route `events.parquet`, so the global batch
  * forms and the per-route hub answer the same question. Events and
  * probes sit on whole hours, where the hourly grid of
  * `nearestOffsetFor` is exact.
  */
class SinceRuleSpec extends SparkSpec {

  private val T0 = 1705276800000000000L // 2024-01-15T00:00:00Z
  private val HourNs = 3600L * 1000000000L
  private val Route = "click"

  /** `events`: (offset, hour after T0); `probe`: hour after T0;
    * `want`: the resolved offset (None: nothing to resolve). */
  private case class Case(name: String, events: Seq[(Long, Int)], probe: Int,
                          want: Option[Long], capacity: Int = 100000,
                          hubOnly: Boolean = false)

  private val Log = Seq(1L -> 2, 2L -> 4, 3L -> 6)
  private val cases = Seq(
    Case("empty log", Nil, 0, None),
    Case("probe before all events", Log, 0, Some(1L)),
    Case("probe between two events", Log, 3, Some(2L)),
    Case("probe exactly at an event", Log, 4, Some(2L)),
    // the backward fallback: every event is earlier than the instant
    Case("probe after all events", Log, 9, Some(3L)),
    Case("two offsets with equal ts", Seq(1L -> 2, 2L -> 4, 3L -> 4, 4L -> 6), 4, Some(2L)),
    // offsets 1 and 3 are at/after hour 3; the smaller wins, and the
    // hub then replays offset 2 too (its window follows offsets)
    Case("ts order differs from offset order", Seq(1L -> 6, 2L -> 2, 3L -> 4), 3, Some(1L)),
    // offsets 1 and 2 are evicted; the hub seeks only what it retains
    Case("evicted: probe before the oldest retained event",
      (1 to 5).map(i => i.toLong -> i), 0, Some(3L), capacity = 3, hubOnly = true))

  private def writeLog(events: Seq[(Long, Int)]): String = {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_since_rule").toFile
    events.map { case (off, h) =>
      (off, T0 + h * HourNs, off % 7, Route, off * 1.5, s"""{"k":"$off"}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.parquet(new File(base, "events.parquet").getPath)
    base.getPath
  }

  private def probeUs(c: Case): Long = (T0 + c.probe * HourNs) / 1000L

  private def batchNearest(dir: String, c: Case): Option[Long] = {
    val probes = spark.range(1).select(expr(s"timestamp_micros(${probeUs(c)})").as("probe_ts"))
    val rows = EventLogOps.nearestOffsetFor(spark, dir, probes).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == probeUs(c))
    Option(rows.head.get(1)).map(_.asInstanceOf[Long])
  }

  private def batchStart(dir: String, c: Case): Option[Long] = {
    val rows = EventLogOps.startPosition(spark, dir, atUs = probeUs(c))
      .where(col("mode") === "AT_TIMESTAMP").collect()
    assert(rows.length == 1)
    Option(rows.head.get(1)).map(_.asInstanceOf[Long])
  }

  /** Offsets the hub replays to a client seeking the probe instant. */
  private def hubReplay(dir: String, c: Case): Seq[Long] = {
    val hub = new SseHub(spark, dir, capacity = c.capacity)
    hub.start()
    try {
      val deadline = System.currentTimeMillis() + 60000L
      val last = c.events.map(_._1).maxOption
      while (last.exists(l => !hub.retainedRange(Route).exists(_._2 == l)) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val sub = hub.subscribe(Route, hub.resolveSinceOffset(Route, T0 + c.probe * HourNs))
      sub.drain().map(_.linesIterator.next().stripPrefix("id: ").toLong)
    } finally hub.stop()
  }

  for (c <- cases) test(s"since rule: ${c.name}") {
    val dir = writeLog(c.events)
    if (!c.hubOnly) {
      assert(batchNearest(dir, c) == c.want, "nearestOffsetFor")
      assert(batchStart(dir, c) == c.want, "startPosition AT_TIMESTAMP")
    }
    val replay = hubReplay(dir, c)
    assert(replay.headOption == c.want, s"hub first replayed offset: $replay")
    // the replay is every retained offset from the resolved one on
    val retained = c.events.map(_._1).sorted.takeRight(c.capacity)
    assert(replay == retained.filter(o => c.want.exists(o >= _)), s"hub replay: $replay")
  }
}
