package graft

import org.apache.spark.sql.functions._

/** The fused centroid-scoring kernels (graft_cent_best /
  * graft_cent_topn) behind SemanticDedup's one assignment route. These
  * tests pin bit-equality with the expression chain they replaced and,
  * for `best`'s near-tie rounding and its candidate set (the IVF
  * probe's buckets), with a loop that rounds every candidate centroid
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
    // cent_sim decodes to -2.0 (the sentinel: NaN loses)
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

  /** `best` as it was before the near-tie rule: every centroid's
    * cosine rounded, then (ns asc, cid asc). */
  private def allRounded(e: org.apache.spark.sql.catalyst.util.ArrayData,
                         ef: Boolean, flat: Array[Double],
                         cids: Array[Int]): (Double, Int) = {
    val k = cids.length
    val dd = flat.length / k
    var bestNs = 0.0; var bestCid = 0; var j = 0
    while (j < k) {
      val n = math.min(e.numElements(), dd)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = if (ef) e.getFloat(i).toDouble else e.getDouble(i)
        val y = flat(j * dd + i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val c9 = graft.plans.CentOps.round9(dot / (math.sqrt(na) * math.sqrt(nb)))
      val ns = if (c9.isNaN) 2.0 else -c9
      if (j == 0 || ns < bestNs || (ns == bestNs && cids(j) < bestCid)) {
        bestNs = ns; bestCid = cids(j)
      }
      j += 1
    }
    (bestNs, bestCid)
  }

  /** The exact assignment: one bucket holding every row. */
  private def exact(e: org.apache.spark.sql.catalyst.util.ArrayData, ef: Boolean,
                    flat: Array[Double], cids: Array[Int]) =
    graft.plans.CentOps.best(e, ef, flat, cids, Array(0, cids.length),
      graft.plans.CentOps.OneBucket)

  private def vec(xs: Double*) =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(xs.map(x => x: Any).toArray)

  /** Unit centroid in the (0, 1) plane whose cosine with [1, 0] is ~x. */
  private def atCos(x: Double): Seq[Double] = Seq(x, math.sqrt(1 - x * x))

  private def rawCos(e: Seq[Double], c: Seq[Double]): Double = {
    val n = math.min(e.length, c.length)
    val dot = (0 until n).map(i => e(i) * c(i)).sum
    dot / (math.sqrt((0 until n).map(i => e(i) * e(i)).sum) *
      math.sqrt((0 until n).map(i => c(i) * c(i)).sum))
  }

  /** `best` on one row, asserted bit-equal to [[allRounded]]. */
  private def bestMatches(e: Seq[Double], cents: Seq[(Int, Seq[Double])]): (Double, Int) = {
    val flat = cents.flatMap(_._2).toArray
    val cids = cents.map(_._1).toArray
    val r = exact(vec(e: _*), ef = false, flat, cids)
    val got = (r.getDouble(0), r.getInt(1))
    val want = allRounded(vec(e: _*), ef = false, flat, cids)
    assert(java.lang.Double.doubleToLongBits(got._1) ==
      java.lang.Double.doubleToLongBits(want._1) && got._2 == want._2,
      s"best $got, all-rounded reference $want")
    got
  }

  test("near tie: raw cosines under 1e-9 apart that round equal go to the smallest cid") {
    val lo = atCos(0.9000000001)
    val hi = atCos(0.9000000004)
    val e = Seq(1.0, 0.0)
    val (rl, rh) = (rawCos(e, lo), rawCos(e, hi))
    assert(rh > rl && rh - rl < 1e-9)
    assert(graft.plans.CentOps.round9(rl) == graft.plans.CentOps.round9(rh))
    // the larger raw cosine sits on the larger cid; a far centroid too
    val (_, cid) = bestMatches(e, Seq(7 -> hi, 3 -> lo, 1 -> atCos(0.5)))
    assert(cid == 3)
  }

  test("near tie: a pair straddling a HALF_UP boundary is split by rounding") {
    val below = atCos(0.1234567885 - 3e-12)
    val above = atCos(0.1234567885 + 3e-12)
    val e = Seq(1.0, 0.0)
    assert(graft.plans.CentOps.round9(rawCos(e, below)) == 0.123456788)
    assert(graft.plans.CentOps.round9(rawCos(e, above)) == 0.123456789)
    // the smaller cid rounds down, so it loses despite the tie rule
    val (ns, cid) = bestMatches(e, Seq(2 -> below, 5 -> above))
    assert(cid == 5 && ns == -0.123456789)
  }

  test("near tie: an all-NaN row goes to the smallest cid at the sentinel") {
    val (ns, cid) = bestMatches(Seq(0.0, 0.0),
      Seq(6 -> atCos(0.3), 4 -> atCos(0.2), 9 -> atCos(0.9)))
    assert(cid == 4 && ns == 2.0)
  }

  test("near tie: NaN mixed with real scores loses to every real score") {
    val zero = Seq(0.0, 0.0)
    // a zero centroid on the smallest cid; real scores all negative
    val (ns, cid) = bestMatches(Seq(1.0, 0.0),
      Seq(0 -> zero, 4 -> atCos(-0.7), 8 -> atCos(-0.2), 2 -> zero))
    assert(cid == 8 && ns == 0.2)
    val (_, cid2) = bestMatches(Seq(1.0, 0.0),
      Seq(0 -> zero, 4 -> atCos(0.9000000001), 3 -> atCos(0.9000000004)))
    assert(cid2 == 3)
  }

  test("near tie: an embedding shorter than d scores its prefix") {
    // |e| = 1 < d = 3: only the first element of each centroid counts
    val (_, cid) = bestMatches(Seq(2.0),
      Seq(5 -> Seq(0.5, 9.0, 9.0), 1 -> Seq(-1.0, 0.0, 0.0), 3 -> Seq(0.25, -4.0, 0.0)))
    assert(cid == 3) // both positive prefixes score 1.0; smallest cid wins
    val rng = new scala.util.Random(31)
    for (_ <- 0 until 50) {
      val e = Seq.fill(1 + rng.nextInt(3))(rng.nextDouble() - 0.5)
      bestMatches(e, (0 until 6).map(j => j -> Seq.fill(4)(rng.nextDouble() - 0.5)))
    }
  }

  test("near tie: clustered centroids match the all-rounded loop on float rows") {
    // centroids within ~1e-9 of each other make near ties common
    val rng = new scala.util.Random(77)
    val base = Seq.fill(d)(rng.nextDouble() - 0.5)
    val cents = (0 until 40).map(j =>
      (40 - j) -> base.map(_ + (rng.nextInt(5) - 2) * 3e-10))
    val flat = cents.flatMap(_._2).toArray
    val cids = cents.map(_._1).toArray
    for (row <- mkEmb(300, 5)) {
      val fs = row._2.toArray
      val e = new org.apache.spark.sql.catalyst.util.GenericArrayData(fs.map(x => x: Any))
      val r = exact(e, ef = true, flat, cids)
      val want = allRounded(e, ef = true, flat, cids)
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(want._1) && r.getInt(1) == want._2)
    }
  }

  /** `best` over the `probed` buckets of a bucketed matrix, asserted
    * bit-equal to [[allRounded]] over the union of those buckets'
    * rows. */
  private def probedMatches(e: Seq[Double], buckets: Seq[Seq[(Int, Seq[Double])]],
                            probed: Seq[Int]): (Double, Int) = {
    val rows = buckets.flatten
    val starts = buckets.scanLeft(0)(_ + _.length).toArray
    val r = graft.plans.CentOps.best(vec(e: _*), ef = false,
      rows.flatMap(_._2).toArray, rows.map(_._1).toArray, starts,
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(probed.toArray))
    val got = (r.getDouble(0), r.getInt(1))
    val union = probed.distinct.flatMap(buckets)
    val want = allRounded(vec(e: _*), ef = false,
      union.flatMap(_._2).toArray, union.map(_._1).toArray)
    assert(java.lang.Double.doubleToLongBits(got._1) ==
      java.lang.Double.doubleToLongBits(want._1) && got._2 == want._2,
      s"probed $probed: best $got, all-rounded reference $want")
    got
  }

  test("candidate set: a NaN centroid in a probed bucket loses") {
    val zero = Seq(0.0, 0.0)
    val e = Seq(1.0, 0.0)
    val buckets = Seq(
      Seq(0 -> zero, 5 -> atCos(0.3)),
      Seq(2 -> atCos(0.6)),
      Seq(1 -> atCos(0.95)),
      Seq(3 -> zero))
    assert(probedMatches(e, buckets, Seq(0)) == (-0.3, 5))
    assert(probedMatches(e, buckets, Seq(1, 0))._2 == 2)
    assert(probedMatches(e, buckets, Seq(3, 0, 2))._2 == 1)
    // a probe that reaches only the NaN centroid: the sentinel
    assert(probedMatches(e, buckets, Seq(3)) == (2.0, 3))
  }

  test("candidate set: tied rounded cosines in two probed buckets go to the smaller cid") {
    val e = Seq(1.0, 0.0)
    // a near tie (raw cosines under 1e-9 apart) and an exact tie, each
    // split across two buckets, the larger raw cosine on the larger cid
    val near = Seq(Seq(7 -> atCos(0.9000000004)), Seq(3 -> atCos(0.9000000001)),
      Seq(1 -> atCos(0.5)))
    val same = Seq(Seq(9 -> atCos(0.7)), Seq(1 -> atCos(0.2)), Seq(4 -> atCos(0.7)))
    for (probed <- Seq(0, 1, 2).permutations.toSeq ++ Seq(Seq(0, 1), Seq(1, 0))) {
      assert(probedMatches(e, near, probed)._2 == 3, s"near tie, probed $probed")
    }
    for (probed <- Seq(Seq(0, 2), Seq(2, 0), Seq(2, 1, 0))) {
      assert(probedMatches(e, same, probed)._2 == 4, s"exact tie, probed $probed")
    }
  }

  test("candidate set: a bucket probed twice scores as probed once") {
    val rng = new scala.util.Random(19)
    // bucket 2 is empty: its starts entry repeats
    val buckets = Seq(3, 2, 0, 4).scanLeft(0)(_ + _).sliding(2).map { case Seq(a, b) =>
      (a until b).map(j => (17 - j) -> Seq.fill(4)(rng.nextDouble() - 0.5))
    }.toSeq
    for (_ <- 0 until 200) {
      val e = Seq.fill(4)(rng.nextDouble() - 0.5)
      // the router probes populated buckets only; an empty one may ride along
      val probed = Seq.fill(rng.nextInt(4))(rng.nextInt(buckets.length)) :+
        Seq(0, 1, 3)(rng.nextInt(3))
      val twice = probedMatches(e, buckets, probed ++ probed)
      assert(twice == probedMatches(e, buckets, probed.distinct))
    }
  }
}
