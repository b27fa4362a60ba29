package graft
package tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.streaming.SseHub

/** What an idle hub costs. Starts an `SseHub` on `<dir>` with the given
  * trigger interval, waits for its catch-up batch, lets it settle, and
  * then, with no file arriving, measures for `MeasureMs` the process
  * CPU time (every JVM thread) and the CPU time of Spark's stream
  * execution thread, the one that lists the directory and plans each
  * trigger. Prints one JSON line with both per idle second.
  *
  * `<dir>` is a table root whose `events.parquet/` directory holds the
  * event part files, for example perfbench's generator output with the
  * staged stream files moved in (15 prefill files + `<stream>`):
  *   python3 perfbench/gen.py <dir> perfbench/data/events.parquet 1 <stream> 0 0 10000 </dev/null
  *   mv <dir>/staging/part-stream-* <dir>/events.parquet/
  *
  * Run:
  *   sbt "Test/runMain graft.tools.IdleCost <dir> <intervalMs>"
  */
object IdleCost {
  private val CatchUpMs = 600000L
  private val SettleMs = 5000L
  private val MeasureMs = 10000L

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val intervalMs = args(1).toLong
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val files = Files.list(Paths.get(dir, "events.parquet"))
    val nFiles = try files.iterator.asScala.count(_.toString.endsWith(".parquet")) finally files.close()
    val hub = new SseHub(spark, dir, pollIntervalMs = intervalMs)
    val q = hub.start()
    // start() waits 30 s for the catch-up batch; thousands of files take longer
    val deadline = System.currentTimeMillis() + CatchUpMs
    while (q.recentProgress.isEmpty && q.isActive && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    require(q.recentProgress.nonEmpty, "the catch-up batch never finished")
    Thread.sleep(SettleMs)
    val streamThread = Thread.getAllStackTraces.keySet.asScala
      .find(_.getName.startsWith("stream execution thread"))
      .getOrElse(sys.error("no stream execution thread"))
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val threads = ManagementFactory.getThreadMXBean
    val t0 = System.nanoTime()
    val proc0 = os.getProcessCpuTime
    val stream0 = threads.getThreadCpuTime(streamThread.getId)
    Thread.sleep(MeasureMs)
    val procNs = os.getProcessCpuTime - proc0
    val streamNs = threads.getThreadCpuTime(streamThread.getId) - stream0
    val wallS = (System.nanoTime() - t0) / 1e9
    require(q.isActive, "the ingest query died while idle")
    hub.stop()
    spark.stop()
    println(f"""{"files": $nFiles, "interval_ms": $intervalMs, "idle_s": $wallS%.2f, """ +
      f""""process_cpu_ms_per_s": ${procNs / 1e6 / wallS}%.1f, """ +
      f""""stream_thread_cpu_ms_per_s": ${streamNs / 1e6 / wallS}%.1f}""")
  }
}
