package graft.operators

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Reporting.parStages]]: thunks run on the caller's local
  * properties and session, and the first failure cancels the
  * siblings' jobs and is rethrown at once. In-package because
  * parStages is `private[operators]`. */
class ParStagesSpec extends graft.SparkSpec {

  test("parStages: each thunk sees the caller's local property and active session") {
    val sc = spark.sparkContext
    val session = spark.newSession()
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(session)
    try {
      // two calls with different values: a pool thread created by an
      // earlier call would still carry the earlier value
      for (value <- Seq("first", "second")) {
        sc.setLocalProperty("graft.test.parstages", value)
        val seen = new ConcurrentHashMap[Int, (String, SparkSession)]()
        val out = Reporting.parStages((1 to 3).map { i => () =>
          seen.put(i, (sc.getLocalProperty("graft.test.parstages"),
            SparkSession.getActiveSession.orNull))
          spark.range(i).toDF(): DataFrame
        }: _*)
        assert(out.map(_.count()) == Seq(1L, 2L, 3L), "results out of order")
        (1 to 3).foreach { i =>
          val (p, s) = seen.get(i)
          assert(p == value, s"thunk $i saw property $p, caller set $value")
          assert(s eq session, s"thunk $i ran under another session")
        }
      }
    } finally {
      sc.setLocalProperty("graft.test.parstages", null)
      prev match {
        case Some(s) => SparkSession.setActiveSession(s)
        case None => SparkSession.clearActiveSession()
      }
    }
  }

  test("parStages: a failing thunk cancels a sibling's running job and throws promptly") {
    val sc = spark.sparkContext
    val slowStarted = new CountDownLatch(1)
    val slowEnded = new CountDownLatch(1)
    @volatile var slowTags = ""
    @volatile var slowResult: JobResult = null
    @volatile var slowJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.role") == "slow") {
          slowJob = e.jobId
          slowTags = e.properties.getProperty("spark.job.tags", "")
          slowStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == slowJob) { slowResult = e.jobResult; slowEnded.countDown() }
    }
    sc.addSparkListener(listener)
    try {
      val slow = () => {
        sc.setLocalProperty("graft.test.role", "slow")
        sc.setInterruptOnCancel(true)
        sc.parallelize(Seq(1), 1).map { x => Thread.sleep(60000); x }.count()
        spark.range(1).toDF()
      }
      val failing = () => {
        assert(slowStarted.await(30, TimeUnit.SECONDS), "slow job never started")
        throw new IllegalStateException("stage failed")
      }
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](Reporting.parStages(slow, failing))
      val elapsedS = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage == "stage failed")
      assert(elapsedS < 20, f"parStages waited $elapsedS%.1f s for the sibling")
      assert(slowEnded.await(20, TimeUnit.SECONDS), "sibling job did not end")
      assert(slowResult.isInstanceOf[JobFailed], s"sibling job ended $slowResult")
      assert(slowTags.contains("graft-parstages-"), s"sibling job tags: $slowTags")
    } finally sc.removeSparkListener(listener)
  }
}
