package graft

import graft.sources.Tables

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Streaming behaviors the batch oracles can't cover (live SSE
  * tails are pinned by SseHubSpec and SseHttpSpec):
  *  - restart-resume: an explicit checkpoint lets a stopped query
  *    restart without reprocessing or duplicating output;
  *  - watermark/append windowCounts: the bounded-state continuous
  *    variant emits exactly the windows the watermark has closed.
  */
class StreamingLiveSpec extends SparkSpec {

  /** Tiny deterministic events table written under `dst` with the
    * production schema (ts = nanos-since-epoch BIGINT). */
  private def writeEvents(dst: File, ids: Range, append: Boolean): Unit = {
    import spark.implicits._
    val rows = ids.map { i =>
      (i.toLong, 1705276800000000000L + i.toLong * 1000000000L, i.toLong % 7,
        if (i % 2 == 0) "click" else "view", i * 1.5, s"""{"k":"$i"}""")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode(if (append) "append" else "overwrite").parquet(dst.getPath)
  }

  test("explicit checkpoint: restart resumes without reprocessing or duplicates") {
    val base = Files.createTempDirectory("graft_resume").toFile
    val evDir = new File(base, "events.parquet")
    val out = new File(base, "out").getPath
    val ckpt = new File(base, "ckpt").getPath
    def runToCompletion(): Unit = {
      val q = EventStreams.readEvents(spark, base.getPath)
        .select("event_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeEvents(evDir, 1 to 5, append = false)
    runToCompletion()
    assert(spark.read.parquet(out).count() == 5)
    // stop/restart across new data: the checkpoint must skip files the
    // first run already committed
    writeEvents(evDir, 6 to 8, append = true)
    runToCompletion()
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 8L), s"resume reprocessed or dropped rows: $ids")
  }

  test("append-mode windowCounts emits exactly the watermark-closed windows") {
    // the closed-window assertion depends on Spark running a no-data
    // micro-batch after the last data batch to finalize the watermark;
    // pin the conf (default true) so the test encodes only semantics
    // it controls
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val complete = EventStreams.windowCounts(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val emitted = EventStreams.windowCountsAppend(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // every emitted window must carry the exact complete-mode values
    emitted.foreach { case (k, v) =>
      assert(complete.get(k).contains(v), s"window $k diverges from batch answer")
    }
    assert(emitted.nonEmpty, "append mode emitted nothing")
    // the only windows missing are those the final watermark
    // (max event time - 1h delay) had not closed at end of input
    val maxUs = Tables.eventsRaw(spark, sfDir)
      .agg(expr("max(ts DIV 1000)")).collect()(0).getLong(0)
    val wmUs = maxUs - 3600L * 1000000L
    val missing = complete.keySet -- emitted.keySet
    missing.foreach { case (startUs, route) =>
      assert(startUs + 3600L * 1000000L > wmUs,
        s"closed window ($startUs, $route) was not emitted")
    }
  }
}
