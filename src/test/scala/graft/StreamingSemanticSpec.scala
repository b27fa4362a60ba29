package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** I7: stream-static semantic dedup — arriving vectors are flagged
  * against the kept members of the deduped corpus with zero streaming
  * state, including vectors that arrive AFTER the query starts. */
class StreamingSemanticSpec extends SparkSpec {

  test("arrivals match kept corpus neighbors; orthogonal vectors pass; late batch works") {
    val root = Files.createTempDirectory("graft_svec").toFile
    val corpusDir = s"$root/corpus"
    val streamDir = s"$root/stream"
    try {
      import spark.implicits._
      val d = 8
      def unit(axis: Int, eps: Double = 0.0): Seq[Float] =
        Seq.tabulate(d)(i =>
          (if (i == axis) 1.0f else 0.0f) + (if (i == (axis + 1) % d) eps.toFloat else 0.0f))
      def vecs(rows: Seq[(Long, Seq[Float])]) =
        rows.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
      // corpus: two well-separated clusters (axes 0 and 4)
      vecs(Seq(100L -> unit(0), 101L -> unit(0, 0.1), 102L -> unit(4)))
        .coalesce(1).write.parquet(s"$corpusDir/embeddings.parquet")
      // arrivals: 1 ≈ the axis-0 cluster (match), 2 ⟂ everything (pass)
      vecs(Seq(1L -> unit(0, 0.05), 2L -> unit(6)))
        .coalesce(1).write.parquet(streamDir)

      val tau = 0.35
      val cents = graft.streaming.VecStreams.corpusCentroids(spark, corpusDir, k = 2)
      val kept = graft.streaming.VecStreams.keptIndex(spark, corpusDir, cents, tau)
        .persist()
      val name = "svec_" + System.nanoTime()
      def run(): Unit = {
        val q = graft.streaming.VecStreams
          .semanticMatches(spark, streamDir, cents, kept, tau)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      run()
      val first = spark.table(name).select("vec_id", "old_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // 100 and 101 are near-dups of each other: batch dedup kept only
      // one of them, and arrival 1 must match the KEPT one
      assert(first.map(_._1) == Set(1L),
        s"only the planted near-dup arrival should match, got $first")
      val keptIds = kept.select("old_id").collect().map(_.getLong(0)).toSet
      assert(first.map(_._2).subsetOf(keptIds),
        "matches must point at kept corpus members only")
      // late arrival (new file in the watched directory): another
      // axis-4 neighbor lands after the first run
      vecs(Seq(3L -> unit(4, 0.05)))
        .coalesce(1).write.mode("append").parquet(streamDir)
      run()
      val all = spark.table(name).select("vec_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(all == Set(1L, 3L), s"late axis-4 arrival must match too, got $all")
      kept.unpersist()
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(root)
    }
  }

  test("R4 standing-query ANN: streamed queries emit exactly the batch IVF top-k") {
    val root = Files.createTempDirectory("graft_sann").toFile
    val streamDir = s"$root/queries"
    try {
      val emb = graft.sources.Tables.embeddings(spark, sfDir)
        .select("vec_id", "embedding")
      val cents = graft.operators.SimilaritySearch
        .trainCentroids(spark, emb, 8, 2).localCheckpoint()
      val index = graft.operators.SemanticDedup.assignTo(spark, emb, cents)
        .select("vec_id", "embedding", "cid").persist()

      // six standing queries arrive as TWO stream files (a second
      // micro-batch proves the late-arrival path)
      val qAll = graft.sources.Tables.embeddings(spark, sfDir)
        .where(col("vec_id") < 6)
      qAll.where(col("vec_id") < 3).coalesce(1).write.parquet(streamDir)
      qAll.where(col("vec_id") >= 3).coalesce(1)
        .write.mode("append").parquet(streamDir)

      def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2),
          BigDecimal(r.getDouble(3)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
        .toSet
      val expected = canon(graft.operators.SimilaritySearch
        .ivfTopKForQueries(spark,
          qAll.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
          index, cents).collect())

      val got = scala.collection.mutable.Set
        .empty[(Long, Int, Long, BigDecimal)]
      val q = graft.streaming.VecStreams
        .annTopKForeachBatch(spark, streamDir, index, cents) { (df, _) =>
          val rows = canon(df.collect())
          got.synchronized { got ++= rows }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()

      assert(expected.map(_._1) == Set(0L, 1L, 2L, 3L, 4L, 5L),
        "batch expectation must cover all six queries")
      assert(got.toSet == expected,
        s"streamed top-k diverges from batch: only-stream=${got.toSet -- expected} " +
          s"only-batch=${expected -- got}")
      index.unpersist()
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(root)
    }
  }
}
