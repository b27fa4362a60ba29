package graft
package tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.SseHub

/** Where a hub burst batch spends its time. A hub with two live tails
  * (the most and the least frequent route, drained in a loop) ingests
  * burst files one at a time. For each burst batch it records
  * `StreamingQueryProgress.durationMs` (`triggerExecution`, `addBatch`,
  * `queryPlanning`, `latestOffset`), the summed `executorCpuTime` of
  * the batch's tasks, and `trigger_wait`: the batch's
  * `StreamingQueryProgress.timestamp` (when its trigger started) less
  * the wall-clock time the burst file became visible. The wait is
  * signed: a trigger that started just before the rename and listed
  * just after it reads the file with a negative wait. It prints the
  * median and mean of each over all bursts but the first four, as one
  * JSON line.
  *
  * The input is perfbench's generator output: the 150k-event prefill
  * in `<root>/events.parquet/` and burst files
  * `<root>/staging/part-burst-KK-00.parquet` of 10k events each.
  *
  * Run:
  *   python3 perfbench/gen.py <root> perfbench/data/events.parquet <seed> 0 0 44 10000 </dev/null
  *   sbt "Test/runMain graft.tools.BurstSplit <root>"
  */
object BurstSplit {
  private val WarmBursts = 4

  def main(args: Array[String]): Unit = {
    val root = args(0)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cpuNs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    })
    val progress = new LinkedBlockingQueue[StreamingQueryProgress]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.add(e.progress)
    })
    val manifest = new String(Files.readAllBytes(Paths.get(root, "manifest.json")), "UTF-8")
    val routes = "\"routes\": \\[([^\\]]*)\\]".r.findFirstMatchIn(manifest).get.group(1)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
    val hub = new SseHub(spark, root)
    hub.start()
    Thread.sleep(3000) // let the prefill catch-up settle
    progress.clear()
    val tails = Seq(routes.head, routes.last).map(r => hub.subscribe(r, hub.latestOffset(r)))
    val drainer = new Thread(() =>
      try while (true) tails.foreach(s => while (s.poll() != null) ())
      catch { case _: InterruptedException => () })
    drainer.setDaemon(true)
    drainer.start()
    val staging = Paths.get(root, "staging")
    val live = Paths.get(root, "events.parquet")
    val names = Seq("triggerExecution", "addBatch", "queryPlanning", "latestOffset")
    val bursts = Iterator.from(0)
      .map(k => staging.resolve(f"part-burst-$k%02d-00.parquet"))
      .takeWhile(Files.exists(_))
      .map { f =>
        val cpu0 = cpuNs.get()
        Files.move(f, live.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        val visibleMs = System.currentTimeMillis()
        val p = progress.poll(60, TimeUnit.SECONDS)
        require(p != null && p.numInputRows == 10000, s"$f: batch $p")
        Thread.sleep(300) // task-end events trail the progress event
        require(!tails.exists(_.overflowed), "a tail overflowed")
        names.map(n => p.durationMs.get(n).doubleValue) :+ (cpuNs.get() - cpu0) / 1e6 :+
          (Instant.parse(p.timestamp).toEpochMilli - visibleMs).toDouble
      }.toVector.drop(WarmBursts)
    drainer.interrupt()
    hub.stop()
    spark.stop()
    val cols = (names.map(_ + "_ms") :+ "task_cpu_ms" :+ "trigger_wait_ms").zipWithIndex.map { case (n, c) =>
      val v = bursts.map(_(c)).sorted
      val median = (v(v.size / 2) + v((v.size - 1) / 2)) / 2
      f""""$n": {"median": $median%.2f, "mean": ${v.sum / v.size}%.2f}"""
    }
    println(cols.mkString("{", ", ", s""", "bursts": ${bursts.size}}"""))
  }
}
