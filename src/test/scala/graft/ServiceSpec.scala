package graft

import graft.operators.{EventLogService, Sampling}

class ServiceSpec extends SparkSpec {

  test("since accepts RFC3339, Go durations, and rejects garbage (400 path)") {
    val nowNs = 1705363200000000000L // 2024-01-16T00:00:00Z
    // RFC3339 instant, taken literally
    assert(EventLogService.parseSinceNs("2024-01-15T00:00:00Z", nowNs)
      == Right(1705276800000000000L))
    // offset form with fractional seconds
    assert(EventLogService.parseSinceNs("2024-01-15T01:00:00.5+01:00", nowNs)
      == Right(1705276800000000000L + 500000000L))
    // Go durations mean that-long-ago relative to now
    assert(EventLogService.parseSinceNs("24h", nowNs) == Right(1705276800000000000L))
    assert(EventLogService.parseSinceNs("2h45m", nowNs)
      == Right(nowNs - (2L * 3600 + 45 * 60) * 1000000000L))
    assert(EventLogService.parseSinceNs("300ms", nowNs) == Right(nowNs - 300000000L))
    assert(EventLogService.parseSinceNs("1.5h", nowNs) == Right(nowNs - 5400000000000L))
    // Go's fractional grammar corner forms (time.ParseDuration accepts
    // a bare trailing or leading dot)
    assert(EventLogService.parseSinceNs(".5h", nowNs) == Right(nowNs - 1800000000000L))
    assert(EventLogService.parseSinceNs("1.h", nowNs) == Right(nowNs - 3600000000000L))
    assert(EventLogService.parseSinceNs("0", nowNs) == Right(nowNs))
    // the reference's 400 path: malformed input never reaches the query
    for (bad <- Seq("yesterday", "12x", "h1", "", "2024-01-15", "1h2x", ".h"))
      assert(EventLogService.parseSinceNs(bad, nowNs).isLeft, s"accepted: $bad")
    // overflow is an error, as in Go — two saturated terms must not
    // wrap around into a future instant
    for (over <- Seq("9999999999h9999999999h", "99999999999999999999h", "9223372037s"))
      assert(EventLogService.parseSinceNs(over, nowNs).isLeft, s"accepted: $over")
  }

  test("hash sample is stable under repartitioning and roughly pct-sized") {
    val a = Sampling.hashSample(spark, sfDir).select("doc_id").collect().map(_.getLong(0)).toSet
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(a.size > 0 && a.size < n / 4, s"10% sample of $n docs got ${a.size}")
    val b = Sampling.hashSample(spark, sfDir).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }
}
