package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** A11: SSE framing sink — the reference's HTTP event-stream frame
  * (kinesis2sse service.go:217-283) as a run-to-completion stream.
  * Each event is framed as `data: <json>\n\n` (service.go:271) and
  * handed to a transport.
  *
  * [[serve]] drains everything available once and returns; live
  * serving to HTTP clients is [[SseHttpServer]] over [[SseHub]],
  * which reuses [[frameCol]]. The default transport is an in-process
  * registry (what the tests read); a downstream consumer supplies its
  * own [[SseTransport]]. The ForeachWriter runs on executors — one
  * transport connection per partition, frames within a partition
  * delivered in order, like one consumer per shard in the reference.
  */
object SseSink {

  trait SseTransport extends Serializable {
    def send(route: String, frame: String): Unit
  }

  /** In-process collector keyed by runId (single-JVM local mode). */
  object InMemoryTransport {
    private val buffers = TrieMap.empty[String, ConcurrentLinkedQueue[String]]
    def queue(runId: String): ConcurrentLinkedQueue[String] =
      buffers.getOrElseUpdate(runId, new ConcurrentLinkedQueue[String]())
    def frames(runId: String): Seq[String] = queue(runId).asScala.toSeq
    def clear(runId: String): Unit = buffers.remove(runId)
  }

  final class InMemory(runId: String) extends SseTransport {
    def send(route: String, frame: String): Unit =
      InMemoryTransport.queue(runId).add(frame)
  }

  /** SSE frame over the standard event columns; the format itself has
    * one source of truth in [[graft.operators.EventLogOps.sseFrameCol]]. */
  def frameCol: org.apache.spark.sql.Column =
    graft.operators.EventLogOps.sseFrameCol(col("ts_us"), col("props"))

  def writer(transport: SseTransport): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      override def open(partitionId: Long, epochId: Long): Boolean = true
      override def process(r: Row): Unit =
        transport.send(r.getString(0), r.getString(1))
      override def close(errorOrNull: Throwable): Unit = ()
    }

  /** Run the event stream through the SSE sink until all available
    * data is served; returns after termination. */
  def serve(spark: org.apache.spark.sql.SparkSession, dir: String,
            transport: SseTransport): Unit = {
    val q = framesStream(spark, dir).writeStream
      .foreach(writer(transport))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def framesStream(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame =
    EventStreams.readEvents(spark, dir)
      .select(col("event_type"), frameCol.as("frame"))
}
