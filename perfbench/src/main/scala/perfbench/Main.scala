package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: sets up one workload, measures it, and writes a
  * result record (JSON) for run.py, which adds the output check and
  * prints the final line.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <dataDir> <workDir> <resultFile>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, dataDir: String, workDir: String,
                        resultFile: String)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4), argv(5), argv(6))
    val cpus = Runtime.getRuntime.availableProcessors()
    val loadStart = Host.loadavg()
    val cpuStart = Host.cpuTicks()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.workDir}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Result
    val heap = new LiveHeap
    try {
      a.workload match {
        case "composites" => Batch.run(spark, a, rec, heap)
        case "hub_serve" => Hub.run(spark, a, rec, heap)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      rec.metric("live_heap_mb_max", heap.maxMb, "MB", endToEnd = true)
      rec.host("nproc", cpus.toString)
      rec.host("loadavg_start", loadStart)
      rec.host("loadavg_end", Host.loadavg())
      rec.host("cpu_steal_pct", Host.stealPct(cpuStart, Host.cpuTicks()).toString)
      Files.writeString(Paths.get(a.resultFile), rec.json)
      spark.stop()
    }
  }
}

object Host {
  /** Seconds since this JVM started: set-up includes JVM start. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Aggregate CPU tick counters from /proc/stat (user ... steal). */
  def cpuTicks(): Array[Long] =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .split("\\s+").drop(1).take(8).map(_.toLong)).getOrElse(Array.fill(8)(0L))

  /** Share of CPU time the hypervisor gave to other guests: load this
    * guest's loadavg cannot see. */
  def stealPct(a: Array[Long], b: Array[Long]): Double = {
    val total = b.sum - a.sum
    if (total <= 0) 0.0 else 100.0 * (b(7) - a(7)) / total
  }

  def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).mkString("[", ",", "]")).getOrElse("null")
}

/** Live heap: heap in use after full collections, summed over pools
  * (`MemoryPoolMXBean.getCollectionUsage`). Sampled only at phase
  * boundaries outside every timed region, because the collections are
  * forced; the metric is the maximum over the run. Each collection lets
  * Spark's ContextCleaner drop blocks of RDDs and broadcasts that became
  * unreachable, which the next one frees, so it collects until the live
  * set stops shrinking. */
final class LiveHeap {
  private var maxBytes = 0L
  private def collect(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }
  def sample(): Unit = synchronized {
    var prev = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (used < prev && rounds < 6) {
      Thread.sleep(100)
      prev = used
      used = collect()
      rounds += 1
    }
    maxBytes = math.max(maxBytes, math.min(used, prev))
  }
  def maxMb: Double = synchronized(maxBytes / 1048576.0)
}

/** Result record: metrics with units, operation counts, host context
  * and the outputs left for run.py's digest check. */
final class Result {
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String, Boolean)]
  private val hostCtx = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val notes = scala.collection.mutable.ArrayBuffer.empty[String]
  private val outputs = scala.collection.mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double, unit: String, endToEnd: Boolean = false): Unit =
    synchronized { metrics(name) = (v, unit, endToEnd) }
  def host(k: String, rawJson: String): Unit = synchronized { hostCtx(k) = rawJson }
  def note(s: String): Unit = synchronized { notes += s }
  def output(query: String, dir: String): Unit = synchronized { outputs(query) = dir }

  def json: String = synchronized {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u, e)) =>
      s"${Json.str(k)}:{\"value\":${num(v)},\"unit\":${Json.str(u)},\"e2e\":$e}" }
    val hs = hostCtx.map { case (k, v) => s"${Json.str(k)}:$v" }
    val os = outputs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}},""" +
      s""""host":{${hs.mkString(",")}},"outputs":{${os.mkString(",")}},""" +
      s""""notes":[${notes.map(Json.str).mkString(",")}]}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile (Python's statistics.quantiles
    * 'inclusive' method), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
