package graft

import java.nio.file.Files

import graft.operators.SimilaritySearch

/** Pins how NaN cosines (a zero vector on either side) steer the IVF
  * search, with few centroids and with more than 512 — the size at
  * which a broadcast-aggregate fallback used to take over and rank
  * NaN above every number. Both sizes now run the centroid kernels,
  * where NaN loses and ties go to the smallest cid.
  */
class IvfNaNProbeSpec extends SparkSpec {

  private val Zero = Array(0f, 0f, 0f, 0f)

  /** Query hit sets of `ivfTopK` (label-mean centroids) over a corpus
    * of `k` labels: labels 0..3 as given, labels 4..k-1 one
    * [0,0,0,1] vector each. Queries are vec_ids 0 and 1. */
  private def hits(k: Int, zeroCentroid: Boolean): Map[Long, Set[Long]] = {
    import spark.implicits._
    val fixed = Seq(
      (0L, Zero, 0), // the all-zero query
      (1L, Array(1f, 0f, 0f, 0f), 1),
      (100L, Array(0f, 0f, 1f, 0f), 0), // centroid 0 = [0, 0, .5, 0]
      (101L, Array(1f, 0f, 0f, 0f), 1), // centroid 1 = [1, 0, 0, 0]
      (102L, if (zeroCentroid) Zero else Array(0f, 1f, 0f, 0f), 2),
      (103L, Array(1f, 1f, 0f, 0f), 3))
    val filler = (4 until k).map(c => (100L + c, Array(0f, 0f, 0f, 1f), c))
    val dir = Files.createTempDirectory("graft_nan_probe").toFile
    (fixed ++ filler).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    SimilaritySearch.ivfTopK(spark, dir.getPath).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("vec_id")).toSet }
  }

  private val FewK = 5
  private val WideK = 513

  test("all-zero query: both sides probe the two smallest cids") {
    // its cosine is NaN against every centroid, so the tie rule alone
    // decides — (cid asc) at both sizes: centroids 0 and 1
    val few = hits(FewK, zeroCentroid = false)
    val wide = hits(WideK, zeroCentroid = false)
    assert(few(0L) == Set(1L, 100L, 101L), s"$FewK centroids: ${few(0L)}")
    assert(wide(0L) == few(0L), s"$WideK centroids: ${wide(0L)}")
    assert(wide(1L) == few(1L))
  }

  test("zero centroid: never picked, with 5 centroids or 513") {
    for (k <- Seq(FewK, WideK)) {
      val got = hits(k, zeroCentroid = true)
      // NaN loses. Query 1 probes centroids 1 and 3; the zero vectors
      // (0, 102) share bucket 0 with 100, and the [0,0,0,1] fillers
      // all land on cid 4
      assert(got(1L) == Set(101L, 103L), s"$k centroids, query 1: ${got(1L)}")
      assert(got(0L) == Set(1L, 100L, 101L, 102L), s"$k centroids, query 0: ${got(0L)}")
    }
  }
}
