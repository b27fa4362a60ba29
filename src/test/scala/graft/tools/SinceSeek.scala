package graft
package tools

import graft.streaming.SseHub

/** Times warm `since` seeks ([[SseHub.resolveSinceOffset]], a linear
  * scan of the ring's ts array) on one route's ring at 10^4, 10^5 and 10^6
  * entries, for a ring whose ts rises with the offset and one whose ts
  * is shuffled. Two probe kinds: a uniformly drawn instant, and an
  * instant after every event (the backward fallback, which scans the
  * whole ring). Prints the best and the median of 200 timed seeks,
  * after 2000 untimed ones. No Spark session starts.
  *
  * Run: sbt "Test/runMain graft.tools.SinceSeek"
  */
object SinceSeek {
  private val Reps = 200
  private val WarmReps = 2000

  def main(args: Array[String]): Unit = {
    val rnd = new scala.util.Random(7)
    val frame = "data: {}\n\n".getBytes("UTF-8")
    for (n <- Seq(10000, 100000, 1000000); inOrder <- Seq(true, false)) {
      val hub = new SseHub(null, "", capacity = n)
      val ts = Array.tabulate(n)(i => if (inOrder) i * 10L else rnd.nextInt(n) * 10L)
      for (from <- 0 until n by 512) {
        val k = math.min(512, n - from)
        hub.append(Array.tabulate(k)(i => (from + i).toLong), Array.fill(k)("r"),
          Array.tabulate(k)(i => ts(from + i)), Array.fill(k)(frame), k)
      }
      for ((probe, instant) <- Seq[(String, () => Long)](
             "uniform" -> (() => rnd.nextInt(n) * 10L),
             "after all" -> (() => n * 10L))) {
        var sink = 0L
        (1 to WarmReps).foreach(_ => sink += hub.resolveSinceOffset("r", instant()))
        val us = (1 to Reps).map { _ =>
          val at = instant()
          val t0 = System.nanoTime()
          sink += hub.resolveSinceOffset("r", at)
          (System.nanoTime() - t0) / 1000.0
        }.sorted
        println(f"[sinceseek] n=$n%-8d ts=${if (inOrder) "in order" else "shuffled"}%-8s " +
          f"probe=$probe%-9s best=${us.head}%9.2f us  median=${us(Reps / 2)}%9.2f us  ($sink%x)")
      }
    }
  }
}
