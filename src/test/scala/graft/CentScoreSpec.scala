package graft

import org.apache.spark.sql.functions._

/** Round-22 optimization internals: the fused centroid-scoring
  * kernels (graft_cent_best / graft_cent_topn) replace the
  * array-of-struct-literal + transform + array_sort chain behind
  * SemanticDedup's literal assignment route. These tests pin
  * bit-equality with the exact expression chain they replaced
  * (the oracle gate pins the consumers end-to-end).
  */
class CentScoreSpec extends SparkSpec {

  private val d = 8
  private def mkCents(k: Int, seed: Int): Seq[(Int, Seq[Double])] = {
    val rng = new scala.util.Random(seed)
    (0 until k).map(j => (j * 3 + 1) -> Seq.fill(d)(rng.nextDouble() - 0.5))
  }
  private def mkEmb(n: Int, seed: Int): Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => i.toLong -> Seq.fill(d)(rng.nextFloat() - 0.5f))
  }

  /** The former literalScoredCentroids chain, verbatim. */
  private def scoredChain(cents: Seq[(Int, Seq[Double])],
                          emb: org.apache.spark.sql.Column) = {
    val arr = array(cents.map { case (cid, ce) =>
      struct(lit(cid).as("cid"),
        array(ce.map(lit): _*).as("c_emb"))
    }: _*)
    array_sort(transform(arr, { c =>
      val c9 = round(call_function("graft_cosine", emb, c.getField("c_emb")), 9)
      struct(when(isnan(c9), lit(2.0)).otherwise(-c9).as("ns"),
        c.getField("cid").as("cid"))
    }))
  }

  test("graft_cent_best equals the sort-chain winner bit-for-bit") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val cents = mkCents(17, 42)
    val flat = cents.flatMap(_._2).toArray
    val cids = cents.map(_._1).toArray
    val df = mkEmb(200, 7).toDF("vec_id", "embedding")
    val best = call_function("graft_cent_best", col("embedding"),
      lit(flat), lit(cids))
    val chainBest = element_at(scoredChain(cents, col("embedding")), 1)
    val rows = df.select(
        best.getField("cid").as("k_cid"),
        best.getField("ns").as("k_ns"),
        chainBest.getField("cid").as("c_cid"),
        chainBest.getField("ns").as("c_ns"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(2))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("graft_cent_topn equals slice(sort-chain, 1, n).cid") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val cents = mkCents(13, 5)
    val flat = cents.flatMap(_._2).toArray
    val cids = cents.map(_._1).toArray
    val df = mkEmb(150, 11).toDF("vec_id", "embedding")
    for (n <- Seq(1, 3, 13, 20)) { // n > k exercises the min(n, k) contract
      val rows = df.select(
          call_function("graft_cent_topn", col("embedding"),
            lit(flat), lit(cids), lit(n)).as("kern"),
          slice(scoredChain(cents, col("embedding")), 1, n)
            .getField("cid").as("chain"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Int](0) == r.getSeq[Int](1), s"n=$n")
      }
    }
  }

  test("NaN corner: zero vector loses everywhere, sentinel decodes to -2") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val cents = mkCents(4, 3)
    val flat = cents.flatMap(_._2).toArray
    val cids = cents.map(_._1).toArray
    val df = Seq((0L, Seq.fill(d)(0.0f))).toDF("vec_id", "embedding")
    val best = call_function("graft_cent_best", col("embedding"),
      lit(flat), lit(cids))
    val r = df.select(best.getField("cid"), (-best.getField("ns")))
      .collect().head
    // every cosine NaN -> every ns = 2.0 -> ties to the smallest cid,
    // cent_sim decodes to -2.0 (the agg route's argmaxRank guard)
    assert(r.getInt(0) == cids.min)
    assert(r.getDouble(1) == -2.0)
  }

  test("duplicate tie scores break to the smallest cid") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    // two identical centroids with different cids: equal ns, smaller
    // cid must win in best and precede in topn
    val ce = Seq.fill(d)(0.25)
    val flat = (ce ++ ce).toArray
    val cids = Array(9, 2)
    val df = mkEmb(20, 23).toDF("vec_id", "embedding")
    val best = call_function("graft_cent_best", col("embedding"),
      lit(flat), lit(cids))
    val rows = df.select(best.getField("cid"),
        call_function("graft_cent_topn", col("embedding"),
          lit(flat), lit(cids), lit(2))).collect()
    rows.foreach { r =>
      assert(r.getInt(0) == 2)
      assert(r.getSeq[Int](1) == Seq(2, 9))
    }
  }

  test("graft_cent_topn with n <= 0 returns an empty array") {
    // slice(array_sort(...), 1, 0) is empty; the bounded insertion
    // must not read a selection slot that a zero-width probe never has
    val cents = mkCents(5, 9)
    val flat = cents.flatMap(_._2).toArray
    val cids = cents.map(_._1).toArray
    val e = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.fill[Any](d)(0.5))
    for (n <- Seq(0, -1, -7)) {
      val top = graft.plans.CentOps.topn(e, ef = false, flat, cids, n)
      assert(top.numElements() == 0, s"n=$n")
    }
  }
}
