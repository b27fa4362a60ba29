// Consumer quickstart for the graft library — compiled and run OUTSIDE
// sbt by scripts/quickstart.sh, against the `sbt publishLocal` jar +
// the Spark distribution jars, exactly as a downstream project would
// consume it: the batch and streaming calls of the README snippet.
import org.apache.spark.sql.SparkSession

object QuickStart {
  def main(args: Array[String]): Unit = {
    val data = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-quickstart")
      // native function registration at session build time; sessions
      // built without this self-register on first operator use
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- batch: near-duplicate detection over the documents table ----
    val dups = graft.operators.Dedup.minhashLsh(spark, data)
    val nDups = dups.count()
    println(s"[quickstart] batch: minhash+LSH near-dup pairs = $nDups")

    // ---- batch: the event-log surface (the reference's `?since=`) ----
    val recent = graft.operators.EventLogOps.since(spark, data)
    println(s"[quickstart] batch: events since resume point = ${recent.count()}")

    // ---- streaming: windowed event counts (AvailableNow trigger) ----
    val windows = graft.streaming.EventStreams.windowCounts(spark, data)
    val nWin = windows.count()
    println(s"[quickstart] streaming: event-time windows = $nWin")

    // ---- streaming: the hub's bounded per-route ring of SSE frames;
    // a subscription replays what the ring retains ----
    val hub = new graft.streaming.SseHub(spark, data, capacity = 100000)
    hub.start()
    val nFrames = try hub.subscribe("click").drain().size finally hub.stop()
    println(s"[quickstart] streaming: SSE frames replayed for route click = $nFrames")

    require(nDups > 0 && nWin > 0 && nFrames > 0, "quickstart produced empty results")
    println("[quickstart] OK")
    spark.stop()
  }
}
