package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{SemanticDedup, SimilaritySearch}
import graft.sources.Tables

/** Pins the round-10 ADVICE fixes so none can regress silently:
  * partitioned-layout dispatch for documents (the medium finding — a
  * merge dropped the case and the J2 layout gate tested the flat read
  * against itself), negative-nanos ceiling division, and the all-NaN
  * cent_sim sentinel of the assignment kernel. */
class AdviceFixSpec extends SparkSpec {

  test("resolve dispatches BOTH events and documents to the partitioned layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dispatch").toFile.getPath
    try {
      Tables.writeEventsPartitioned(spark, sfDir, dir)
      Tables.writeDocumentsPartitioned(spark, sfDir, dir)
      for (name <- Seq("events", "documents")) {
        val part = Tables.resolve(spark, sfDir, name, Some(dir))
        // the gate the round-10 regression needed: the scan must
        // actually LIST under the partitioned dir, not the flat file
        val files = part.inputFiles
        assert(files.nonEmpty && files.forall(_.contains(dir)),
          s"$name with a partitioned override still reads the flat file: " +
            files.take(3).mkString(", "))
        val flat = Tables.resolve(spark, sfDir, name, None)
        assert(part.columns.toSeq == flat.columns.toSeq,
          s"$name partitioned column order diverged")
        assert(part.exceptAll(flat).isEmpty && flat.exceptAll(part).isEmpty,
          s"$name partitioned rows diverged from flat")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("NTZ events vintage normalizes zone-free and keeps the pushdown bound exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz").toFile.getPath
    try {
      // a synthetic NTZ-vintage events file: ts written as
      // TIMESTAMP_NTZ (wall-clock micros, no zone)
      val us = Seq(1700000000000000L, 1700000000123456L, 1700003600000000L)
      us.zipWithIndex.map { case (u, i) =>
        (i.toLong, u, 10L + i, "evt", 1.0, "{}")
      }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .selectExpr("event_id",
          "timestampadd(MICROSECOND, us, TIMESTAMP_NTZ '1970-01-01 00:00:00') AS ts",
          "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType, "fixture must be NTZ")

      // the normalized read must yield EXACT epoch nanos regardless of
      // the session timezone (the zone-free contract)
      val got = graft.sources.Tables.eventsRaw(spark, dir)
        .select("event_id", "ts").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      us.zipWithIndex.foreach { case (u, i) =>
        assert(got(i.toLong) == u * 1000L,
          s"event $i: ${got(i.toLong)} != ${u * 1000L}")
      }
      // and a nanos range bound translates exactly (boundary row kept)
      val lo = us(1) * 1000L
      val ranged = graft.sources.Tables.eventsRawRange(spark, dir, lo)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(ranged == Set(1L, 2L), s"range from boundary got $ranged")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("ceil-div nanos→micros holds for negative (pre-epoch) timestamps") {
    val cases = Seq(0L, 1L, 999L, 1000L, 1001L, -1L, -999L, -1000L, -1001L,
      Long.MaxValue - 1000L, Long.MinValue + 1000L)
    for (ns <- cases) {
      val expect = BigDecimal(ns)./(BigDecimal(1000))
        .setScale(0, BigDecimal.RoundingMode.CEILING).toLongExact
      assert(Tables.ceilDivNanosToMicros(ns) == expect,
        s"ceilDiv($ns) = ${Tables.ceilDivNanosToMicros(ns)}, want $expect")
    }
  }

  test("all-NaN cosine corner: assignment puts the row on the smallest cid at -2.0") {
    import spark.implicits._
    // a zero vector has cosine 0/0 = NaN against EVERY centroid
    val emb = Seq((1L, Array(0f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("cid", "c_emb")
    val got = SemanticDedup.assignTo(spark, emb, cents)
      .select("vec_id", "cid", "cent_sim").orderBy("vec_id").collect()
    // the defined sentinel: all-NaN rows land on the smallest cid at -2.0
    assert(got(0).getInt(1) == 0 && got(0).getDouble(2) == -2.0,
      s"all-NaN row not on (cid 0, -2.0): ${got(0)}")
    assert(got(1).getInt(1) == 0 && got(1).getDouble(2) == 1.0,
      s"real row mis-scored: ${got(1)}")
  }

  test("literal assignment rejects a ragged centroid row") {
    import spark.implicits._
    val emb = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    // the second centroid carries a third element the flat matrix has
    // no slot for: it must fail loudly, never be scored truncated
    val cents = Seq(
      org.apache.spark.sql.Row(0, Seq(1.0, 0.0)),
      org.apache.spark.sql.Row(1, Seq(0.0, 1.0, 5.0)))
    val e = intercept[IllegalArgumentException] {
      SemanticDedup.assignToLiteral(spark, emb, cents)
    }
    assert(e.getMessage.contains("dimension"), s"wrong failure: $e")
  }

  test("a centroid table above MaxClusters fails loudly at the collect") {
    // MaxClusters + 1 one-dimensional centroids: every collect site
    // refuses it instead of shipping the whole table into each task
    val over = spark.range(SemanticDedup.MaxClusters + 1L)
      .select(col("id").cast("int").as("cid"), array(lit(1.0)).as("c_emb"))
    val emb = spark.range(1).select(col("id").as("vec_id"),
      array(lit(1.0f)).as("embedding"))
    def failsOnCap(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(s"MaxClusters = ${SemanticDedup.MaxClusters}"),
        s"wrong failure: $e")
    }
    failsOnCap(SemanticDedup.assignTo(spark, emb, over))
    failsOnCap(SemanticDedup.literalTopCentroids(spark, over, col("embedding"), 2))
    failsOnCap(SimilaritySearch.trainCentroids(spark, emb,
      SemanticDedup.MaxClusters + 1))
    // the bound itself is accepted
    assert(SemanticDedup.collectCentroids(over.limit(SemanticDedup.MaxClusters))
      .length == SemanticDedup.MaxClusters)
  }
}
