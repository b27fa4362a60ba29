package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{ConcurrentSkipListMap, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.EventLogOps

/** Shared-query serving core: ONE continuous Spark query per event
  * directory feeds an in-JVM bounded ring log, and every connected
  * client replays from its own seek position out of the ring and then
  * rides the live feed — the reference's actual architecture (one KCL
  * ingest into a capacity-bounded memlog, service.go:100-106, with an
  * independent `ml.Stream(ctx, off)` seek per connected handler,
  * service.go:244-262), including the in-memory timestamp→offset
  * index (timestamp2offset.go) so connects never run a Spark job.
  *
  * N subscribers cost ONE streaming query + N bounded queues; this is
  * the serving core behind every [[SseHttpServer]] connection. Like
  * the reference's memlog, the ring is bounded: a client seeking
  * before the oldest retained offset replays only what capacity kept
  * (memlog.WithMaxSegmentSize semantics).
  *
  * Ordering: within a source partition frames arrive in offset order;
  * across partitions interleaving can occur, exactly as the
  * reference's per-shard consumers interleave into one log. Each ring
  * is offset-sorted, so replays are always ordered; only the live
  * tail can interleave. Delivery is at-least-once end to end: the
  * live fan-out dedups on first ring insertion, so a task retry
  * re-appending an offset the ring still retains is suppressed; a
  * retry arriving after eviction (requires a failure outliving
  * `capacity` newer events) would re-deliver.
  *
  * Retention is PER ROUTE, as in the reference: every route has its
  * own bounded log (one memlog per RouteOptions entry,
  * service.go:38-47, 93-106), and `routeCapacities` overrides the
  * default `capacity` per route exactly as RouteOptions.Capacity
  * falls back to DefaultCapacity when unset. A chatty route can never
  * evict a quiet route's history.
  *
  * Checkpoint: each [[start]] runs the ingest on a fresh temp
  * checkpoint directory the hub owns and deletes on [[restart]] and
  * [[stop]] — never under `spark.sql.streaming.checkpointLocation`,
  * where Spark would leave one directory per query behind. Its
  * offset, commit and file-source logs are written through
  * [[LocalCheckpointFileManager]] (installed by
  * [[EventStreams.readEvents]]), so a micro-batch's metadata writes
  * cost system calls, not forked processes.
  */
class SseHub(spark: SparkSession, dir: String,
             capacity: Int = 100000,
             pollIntervalMs: Long = 100L,
             maxQueuedFrames: Int = 10000,
             routeCapacities: Map[String, Int] = Map.empty) {

  import SseHub._

  require(capacity > 0, "capacity must be positive")
  require(routeCapacities.values.forall(_ > 0),
    "route capacities must be positive")

  private val hubId = hubIds.incrementAndGet()

  /** One bounded offset-sorted log per route (the reference's
    * per-route memlog). `size` is maintained under `lock`: skip-list
    * size() is O(n). */
  private final class RouteRing {
    val ring = new ConcurrentSkipListMap[Long, Entry]()
    var size = 0
  }
  private val rings = TrieMap.empty[String, RouteRing]
  private def capacityFor(route: String): Int =
    routeCapacities.getOrElse(route, capacity)

  private val subs = TrieMap.empty[Long, Subscription]
  // volatile: serving threads poll [[isIngesting]] without the monitor
  // that start/restart hold while waiting for the catch-up batch
  @volatile private var query: Option[StreamingQuery] = None
  // the running query's checkpoint; guarded by this hub's monitor
  private var checkpoint: Option[JPath] = None

  /** Start the single shared ingest query (idempotent) and wait for
    * its initial catch-up micro-batch, so connect-time seeks resolve
    * against a populated ring — the reference's handlers likewise only
    * ever see a memlog its boot-time ingest already filled
    * (service.go:100-106). Events still mid-ingest at a later connect
    * are missed by seeks exactly as in-flight Kinesis records are. */
  def start(): StreamingQuery = synchronized {
    query.getOrElse {
      hubs.put(hubId, this)
      val ckpt = Files.createTempDirectory("graft-hub-")
      checkpoint = Some(ckpt)
      val q = EventStreams.readEvents(spark, dir)
        .select(col("event_id"), col("event_type"), col("ts"),
          EventLogOps.sseFrameCol(col("ts_us"), col("props")).as("frame"))
        .writeStream
        .foreach(new HubWriter(hubId))
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.ProcessingTime(pollIntervalMs))
        .start()
      query = Some(q)
      val deadline = System.currentTimeMillis() + 30000L
      while (q.recentProgress.isEmpty && q.isActive &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      q
    }
  }

  /** Restart the shared ingest after a failure WITHOUT dropping
    * subscriptions (the reference's KCL worker likewise resumes into
    * the same memlog, service.go:133-141). The replacement query runs
    * from a fresh temp checkpoint, so it re-reads the source from the
    * start and re-appends every retained offset — `append`'s
    * first-insertion gate suppresses those (the documented
    * at-least-once window), so connected clients see only genuinely
    * new frames, and events that landed during the outage are picked
    * up by the replacement's catch-up batch. An offset already evicted
    * from its route ring at restart time IS re-delivered — same
    * semantics as a task retry outliving `capacity` newer events. On
    * a hub that never started, this is [[start]]. */
  def restart(): StreamingQuery = synchronized {
    stopIngest()
    start()
  }

  /** Stop the ingest and CLOSE every subscription — a polling
    * consumer observes `closed` instead of an indefinitely quiet
    * queue. */
  def stop(): Unit = synchronized {
    stopIngest()
    hubs.remove(hubId)
    lock.synchronized {
      subs.values.foreach(_.markClosed())
      subs.clear()
    }
  }

  /** Stop the query, then delete the checkpoint it ran on. */
  private def stopIngest(): Unit = synchronized {
    query.foreach(q => try q.stop() catch { case _: Exception => () })
    query = None
    checkpoint.foreach(LocalCheckpointFileManager.deleteRecursively)
    checkpoint = None
  }

  /** The running ingest's checkpoint directory (specs inspect it). */
  private[graft] def checkpointDir: Option[JPath] = synchronized(checkpoint)

  def activeSubscribers: Int = subs.size

  /** The ingest query is running. False before [[start]], after
    * [[stop]], and once the query failed or was stopped — then no
    * subscription receives another live frame until [[restart]]. */
  def isIngesting: Boolean = query.exists(_.isActive)

  /** Offset span retained across ALL routes (diagnostics). */
  def retainedRange: Option[(Long, Long)] = lock.synchronized {
    val nonEmpty = rings.values.filter(!_.ring.isEmpty)
    if (nonEmpty.isEmpty) None
    else Some((nonEmpty.map(_.ring.firstKey()).min,
      nonEmpty.map(_.ring.lastKey()).max))
  }

  /** Offset span retained for one route's bounded log. */
  def retainedRange(route: String): Option[(Long, Long)] = lock.synchronized {
    rings.get(route).filter(!_.ring.isEmpty)
      .map(r => (r.ring.firstKey(), r.ring.lastKey()))
  }

  /** In-memory timestamp→offset seek over the route's retained ring
    * (the reference's t2o.NearestOffset role). This states the one
    * `since` rule (timestamp2offset.go:60-80), which
    * `EventLogOps.nearestOffsetFor` and `EventLogOps.startPosition`
    * also follow:
    *
    *  - the smallest offset whose ts is at/after the instant;
    *  - else (every event is earlier) the largest earlier offset;
    *  - empty log → no offset.
    *
    * The result is the resolved offset minus one, because a
    * subscription starts strictly after its offset: the client replays
    * from the resolved event on, then follows live. Empty ring →
    * everything (the reference's empty-log path, service.go:254-258).
    * No Spark job runs. The window follows OFFSETS, as in the
    * reference: an event whose ts precedes the instant but whose
    * offset follows the resolved one is delivered; one whose ts is
    * at/after the instant but whose offset precedes it (a late
    * arrival) is not. The seek sees only what the ring retains, so an
    * instant before the oldest retained event resolves to that event. */
  def resolveSinceOffset(route: String, sinceNs: Long): Long = lock.synchronized {
    rings.get(route).filter(!_.ring.isEmpty) match {
      case Some(r) =>
        var fwd = Long.MinValue
        val it = r.ring.values().iterator()
        while (it.hasNext && fwd == Long.MinValue) {
          val e = it.next()
          if (e.ts >= sinceNs) fwd = e.offset
        }
        (if (fwd != Long.MinValue) fwd else r.ring.lastKey()) - 1
      case None => Long.MinValue
    }
  }

  /** Latest retained offset for `route` (absent-`since` live tails);
    * empty ring → everything is new. */
  def latestOffset(route: String): Long = lock.synchronized {
    rings.get(route).filter(!_.ring.isEmpty)
      .map(_.ring.lastKey()).getOrElse(Long.MinValue)
  }

  /** Subscribe a client at its own seek position: frames with offset
    * strictly after `afterOffset` on `route`. Retained history is
    * SNAPSHOTTED (not pushed into the live queue, whose bound exists
    * for slow LIVE consumers — a replay bigger than the bound must
    * not kill the client before it reads a byte) and served first by
    * `Subscription.poll`; later arrivals follow live. Snapshot and
    * registration happen under the append lock, so no frame is lost
    * or doubled at the hand-over point. */
  def subscribe(route: String, afterOffset: Long = Long.MinValue): Subscription =
    lock.synchronized {
      val id = subIds.incrementAndGet()
      val replay = Vector.newBuilder[String]
      rings.get(route).foreach { r =>
        val it = r.ring.tailMap(afterOffset, false).values.iterator()
        while (it.hasNext) { val e = it.next(); replay += idFrame(e.offset, e.frame) }
      }
      val sub = new Subscription(id, this, route, afterOffset,
        replay.result(), new BoundedQueue(maxQueuedFrames))
      subs.put(id, sub)
      sub
    }

  private[streaming] def unsubscribe(id: Long): Unit = subs.remove(id)

  private[graft] def append(offset: Long, route: String, ts: Long,
                            frame: String): Unit =
    lock.synchronized {
      val r = rings.getOrElseUpdate(route, new RouteRing)
      val first = r.ring.put(offset, Entry(offset, ts, frame)) == null
      if (first) {
        r.size += 1
        val cap = capacityFor(route)
        while (r.size > cap) { r.ring.pollFirstEntry(); r.size -= 1 }
        // fan out only first-time offsets: the foreach sink is
        // at-least-once, and a retried batch must not double-deliver
        subs.values.foreach { s =>
          if (s.route == route && offset > s.afterOffset)
            s.queue.add(SseHub.idFrame(offset, frame))
        }
      }
    }

  // One lock serializes append/subscribe/seek for exact replay
  // hand-over. It is taken once per ROW (HubWriter.process appends
  // each row), from the micro-batch's task threads; the critical
  // section is a skip-list insert plus a queue offer per matching
  // subscriber. A production hub would shard it by route.
  private val lock = new Object
}

object SseHub {
  private[streaming] case class Entry(offset: Long, ts: Long, frame: String)

  /** Delivered frames carry the SSE `id:` field (offset = event id) so
    * a client can resume with `Last-Event-ID` after a drop — the ring
    * stores the bare frame once and the id line is prepended at
    * delivery, where the offset is in hand anyway. */
  private[streaming] def idFrame(offset: Long, frame: String): String =
    "id: " + offset + "\n" + frame

  /** Handle a client holds: replay-then-live frame source + close.
    * `poll` drains the replay snapshot first (unbounded by the live
    * queue's cap — it is already bounded by ring capacity), then the
    * live queue. */
  final class Subscription private[streaming] (
      val id: Long, hub: SseHub,
      private[streaming] val route: String,
      private[streaming] val afterOffset: Long,
      replaySnapshot: Vector[String],
      private[streaming] val queue: BoundedQueue) {
    private var replayAt = 0 // handler-thread-confined
    @volatile private var closedFlag = false

    /** Next frame, or null if none pending. */
    def poll(): String = poll(0L)

    /** Next frame, waiting up to `waitMs` for a live one to arrive;
      * null if none came. A serving loop waits here instead of
      * sleeping, so a frame is handed over the moment it is appended. */
    def poll(waitMs: Long): String =
      if (replayAt < replaySnapshot.length) {
        val f = replaySnapshot(replayAt); replayAt += 1; f
      } else queue.poll(waitMs)

    def drain(): Seq[String] = {
      val out = Vector.newBuilder[String]
      var f = poll()
      while (f != null) { out += f; f = poll() }
      out.result()
    }

    def pending: Int = (replaySnapshot.length - replayAt) + queue.size
    /** The live queue overflowed: this consumer fell too far behind. */
    def overflowed: Boolean = queue.overflowed
    /** The hub was stopped; no further frames will ever arrive. */
    def isClosed: Boolean = closedFlag
    private[streaming] def markClosed(): Unit = closedFlag = true
    def close(): Unit = { closedFlag = true; hub.unsubscribe(id) }
  }

  /** Bounded frame buffer: overflow marks the subscriber dead rather
    * than growing the heap (the serving layer turns that into a
    * disconnect, as [[SseHttpServer]] does). */
  private[streaming] final class BoundedQueue(cap: Int) {
    private val q = new java.util.concurrent.LinkedBlockingQueue[String](cap)
    @volatile var overflowed = false
    def add(frame: String): Unit = if (!q.offer(frame)) overflowed = true
    def poll(waitMs: Long): String = q.poll(waitMs, TimeUnit.MILLISECONDS)
    def size: Int = q.size()
  }

  // Static registries: the ForeachWriter serializes per task, so it
  // carries only the hub id and resolves the JVM-side hub instance.
  private val hubIds = new AtomicLong(0L)
  private val subIds = new AtomicLong(0L)
  private val hubs = TrieMap.empty[Long, SseHub]

  private final class HubWriter(hubId: Long) extends ForeachWriter[Row] {
    override def open(partitionId: Long, epochId: Long): Boolean = true
    override def process(r: Row): Unit =
      hubs.get(hubId).foreach(
        _.append(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    override def close(errorOrNull: Throwable): Unit = ()
  }
}
