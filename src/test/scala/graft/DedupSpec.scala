package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SimilaritySearch}
import graft.functions.Vectors

/** Scale-contract and recall tests for the dedup/ANN operators. */
class DedupSpec extends SparkSpec {

  test("LSH candidate pair count is << n^2") {
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val pairs = Dedup.minhashLsh(spark, sfDir).count()
    assert(pairs < n * n / 100,
      s"LSH must prune: $pairs candidate pairs for $n docs")
  }

  test("BucketCap bounds an identical-doc bucket: C(cap, 2) pairs over the cap smallest ids") {
    import spark.implicits._
    // cap + 50 identical docs share a bucket in every band; ids are a
    // permutation of 100..(cap + 149), so the cap smallest are 100..(cap + 99)
    val n = Dedup.BucketCap + 50
    val text = "a boilerplate notice repeated verbatim across a planted hot bucket"
    val docs = (0 until n).map(i => ((i * 7919L) % n + 100, text)).toDF("doc_id", "text")
    val pairs = Dedup.verifiedPairsAt(spark, Dedup.shingledSig(spark, docs), 4, 3)
      .select("doc_a", "doc_b").distinct().localCheckpoint()
    val cap = Dedup.BucketCap.toLong
    assert(pairs.count() == cap * (cap - 1) / 2)
    val ids = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
      .agg(countDistinct("id"), min("id"), max("id")).head()
    assert((ids.getLong(0), ids.getLong(1), ids.getLong(2)) == ((cap, 100L, cap + 99)))
  }

  test("LSH finds every true near-dup pair (jaccard >= 0.8)") {
    // Brute-force ground truth is feasible at sf0.001 (50 docs).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, greatest(size(toks)-2, 1)), i -> concat_ws(' ', slice(toks, i, 3))))"))
      .select("doc_id", "sh")
    val truth = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          (size(col("a.sh")) + size(col("b.sh")) -
            size(array_intersect(col("a.sh"), col("b.sh"))))).as("j"))
      .where(col("j") >= 0.8)
      .select("doc_a", "doc_b")
    val found = Dedup.ngramJaccard(spark, sfDir)
      .where(col("is_dup")).select("doc_a", "doc_b")
    val missed = truth.exceptAll(found).count()
    assert(missed == 0, s"LSH missed $missed true near-dup pairs")
  }

  test("containment flags a subset doc that Jaccard misses, naming the contained side") {
    import spark.implicits._
    // B is A's 40-token prefix of 60: shingle containment 1.0 but
    // jaccard ≈ 0.66 — the boilerplate-wrapped-copy case resemblance
    // under-reports. Tokens fixed so the (deterministic) md5 minhash
    // bands collide.
    val toks = (1 to 60).map(i => s"w$i")
    val a = toks.mkString(" ")
    val b = toks.take(40).mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, "entirely unrelated text here"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.ngramContainmentFrom(spark, docs).collect()
    assert(got.length == 1, s"want exactly the planted pair, got ${got.length}")
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getDouble(2) == 1.0, s"containment ${r.getDouble(2)}")
    assert(r.getLong(3) == 2L, "the prefix doc is the contained side")
    // and C4's resemblance verdict on the same frame does NOT flag it
    val sh = (t: String) => t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val j = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
    assert(j < 0.8, f"fixture drifted: jaccard $j%.2f should sit under C4's bar")
  }

  test("source matrix cells are canonical and conserve the pair count") {
    val pairs = Dedup.minhashLsh(spark, sfDir).count()
    val m = Dedup.sourceMatrix(spark, sfDir)
    assert(m.where(col("source_a") > col("source_b")).count() == 0,
      "cells must be least/greatest-canonical")
    assert(m.agg(sum("n_pairs")).head().getLong(0) == pairs,
      "every candidate pair lands in exactly one cell")
  }

  test("simhash pairs have genuinely similar shingle sets") {
    val pairs = Dedup.simhash(spark, sfDir)
    // hamming<=4 pairs at sf0.001 must also be LSH candidates (both
    // target the same planted near-dups)
    val lsh = Dedup.minhashLsh(spark, sfDir).select("doc_a", "doc_b")
    val overlap = pairs.join(lsh, Seq("doc_a", "doc_b")).count()
    assert(pairs.count() == 0 || overlap > 0)
  }

  test("brute-force top-k: ranks are dense 1..k and self is excluded") {
    val df = SimilaritySearch.bruteTopK(spark, sfDir)
    assert(df.where(col("query_id") === col("vec_id")).count() == 0)
    val bad = df.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("m"))
      .where(col("m") =!= col("n")).count()
    assert(bad == 0)
  }

  test("IVF results are a subset-quality approximation of brute force") {
    val brute = SimilaritySearch.bruteTopK(spark, sfDir)
      .select("query_id", "vec_id")
    val ivf = SimilaritySearch.ivfTopK(spark, sfDir)
    // every IVF hit must be a real vector with sane cosine
    assert(ivf.where(col("cos_sim") > 1.0001 || col("cos_sim") < -1.0001).count() == 0)
    assert(ivf.count() > 0)
    // recall is approximate but must be nonzero on any realistic data
    assert(ivf.join(brute, Seq("query_id", "vec_id")).count() > 0)
  }

  test("dup clusters: labels are transitive-closed minima") {
    val pairs = Dedup.ngramJaccard(spark, sfDir).where(col("is_dup"))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.dupClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every edge's endpoints share a cluster, and the label is the
    // component min (local union-find ground truth)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = (pairs.flatMap(p => Seq(p._1, p._2)).distinct).map(v => v -> find(v)).toMap
    assert(clusters == truth)
  }

  test("simhash block-pair index finds EVERY ham<=4 pair (pigeonhole recall)") {
    // brute-force ground truth over all signature pairs (500 docs at
    // sf0.001 -> 125k pairs, fine in a test), then assert the indexed
    // operator missed none — the Manku block-pair guarantee
    val sigs = Dedup.simhashSigs(spark, sfDir)
    val truth = sigs.as("a").crossJoin(sigs.as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
      .where(col("hamming") <= 4)
    val found = Dedup.simhash(spark, sfDir).select("doc_a", "doc_b")
    val nTruth = truth.count()
    val nMissed = truth.join(found, Seq("doc_a", "doc_b"), "left_anti").count()
    assert(nTruth > 0, "fixture has no ham<=4 pairs — test is vacuous")
    assert(nMissed == 0, s"index missed $nMissed of $nTruth ham<=4 pairs")
  }

  test("dup clusters converge on a CHAIN (worst-case diameter), one cluster, min label") {
    // sliding-window docs: adjacent pairs share 16 of 20 distinct
    // 3-gram shingles (jaccard exactly 0.8 — an edge), skip-pairs
    // 14/22 (~0.64 — no edge): a PATH graph, the worst convergence
    // shape for min-label propagation (diameter = n-1), unlike the
    // near-cliques real dup groups form
    val dir = java.nio.file.Files.createTempDirectory("graft_chain").toFile
    try {
      import spark.implicits._
      val docs = (0 until 8).map { i =>
        val toks = (2 * i until 2 * i + 20).map(t => s"w$t")
        (i.toLong, toks.mkString(" "), "en", "chain", toks.mkString(" ").length.toLong)
      }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val got = Dedup.dupClusters(spark, dir.getPath)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet == (0L until 8L).toSet,
        s"chain nodes missing from clusters: $got")
      assert(got.values.forall(_ == 0L),
        s"chain did not converge to the single min label: $got")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("min-label propagation bounds rounds at O(log n) on a 64-node path (pointer jumping)") {
    import spark.implicits._
    val n = 64
    val edges = (0 until n - 1).flatMap(i =>
      Seq((i.toLong, (i + 1).toLong), ((i + 1).toLong, i.toLong)))
      .toDF("src", "dst")
    val (labels, rounds) = Dedup.propagateMinLabels(edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (0L until n.toLong).toSet, s"path nodes missing: $got")
    assert(got.values.forall(_ == 0L), s"path did not converge to min label: $got")
    // diameter is 63: plain min-label needs ~63 rounds; the fused
    // pointer jump must land in ~log2(n) + a verification round
    assert(rounds <= 8, s"pointer jumping did not bound rounds: $rounds")
  }

  test("native minhash/simhash signatures match the aggregate formulation bit-for-bit") {
    // the r2 explode+aggregate shape, rebuilt here as ground truth for
    // the fused per-row expressions that replaced it
    val sh = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, greatest(size(toks)-2, 1)), i -> concat_ws(' ', slice(toks, i, 3))))"))
    val mhAggs = (0 until 12).map(j =>
      min(md5(concat(lit(s"$j:"), col("x")))).as(s"omh_$j"))
    val oldMinhash = sh.select(col("doc_id"), explode(col("sh")).as("x"))
      .groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
    val newMinhash = sh.select(col("doc_id"),
      Vectors.minhashFast(spark, col("sh"), 12).as("mhs"))
    val nDocs = sh.count()
    assert(nDocs > 0)
    // null-safe equality (<=>) so a regression to null can't slip
    // through a null-propagating =!= filter; joined count pinned so an
    // empty side can't pass vacuously
    val mhMatch = (0 until 12).map(j =>
      col(s"omh_$j") <=> expr(s"element_at(mhs, ${j + 1})")).reduce(_ && _)
    val mhJoined = newMinhash.join(oldMinhash, "doc_id")
    assert(mhJoined.count() == nDocs)
    assert(mhJoined.where(!mhMatch).count() == 0)

    val highs = (1 to 60).map { p =>
      val (h, pos) = if (p <= 32) (col("h1"), p) else (col("h2"), p - 32)
      sum(when(substring(h, pos, 1)
        .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(0)).as(s"hi_$p")
    }
    val bitTerms = (1 to 60).map { p =>
      s"(CASE WHEN 2 * hi_$p > nsh THEN ${1L << (p - 1)}L ELSE 0L END)"
    }.mkString(" + ")
    val oldSimhash = sh.select(col("doc_id"), explode(col("sh")).as("x"))
      .select(col("doc_id"), md5(col("x")).as("h1"), md5(concat(lit("2:"), col("x"))).as("h2"))
      .groupBy("doc_id").agg(count(lit(1)).as("nsh"), highs: _*)
      .select(col("doc_id"), expr(bitTerms).as("osim"))
    val newSimhash = sh.select(col("doc_id"),
      Vectors.simhashFast(spark, col("sh")).as("nsim"))
    val shJoined = newSimhash.join(oldSimhash, "doc_id")
    assert(shJoined.count() == nDocs)
    assert(shJoined.where(!(col("nsim") <=> col("osim"))).count() == 0)
  }

  test("native SRP sketch is bit-identical to the spelled-out SQL expression") {
    // the oracle evaluates the giant per-term expression; the Spark
    // side runs the fused native loop — the `> 0` sign decisions must
    // agree bit-for-bit on every vector and both hyperplane families
    def dotExpr(j: Int) = (0 until 64).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) * ${Dedup.srpSign(j, i)}").mkString(" + ")
    def sketchExpr(s: Int) = (0 until 16).map(j =>
      s"(CASE WHEN ${dotExpr(s * 16 + j)} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("CAST(", " + ", " AS BIGINT)")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // The ~2000-term ground truth CANNOT compile into one JVM method:
    // fused into a count's whole-stage span it blew Janino's 64 KB
    // method limit ("Code grows beyond 64 KB") and Spark silently
    // fell back to interpreted eval — an ERROR CodeGenerator line in
    // every test log, the exact noise CodegenContractSpec polices.
    // Evaluate the ground truth EXPLICITLY interpreted instead (same
    // semantics — it exists as reference bits, not a production
    // plan); the native side below runs under normal codegen.
    val gt = {
      val ws = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val fm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try emb.select(col("vec_id"),
        expr(sketchExpr(0)).as("e0"), expr(sketchExpr(1)).as("e1"))
        .localCheckpoint()
      finally {
        ws.fold(spark.conf.unset("spark.sql.codegen.wholeStage"))(
          spark.conf.set("spark.sql.codegen.wholeStage", _))
        fm.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
          spark.conf.set("spark.sql.codegen.factoryMode", _))
      }
    }
    val mismatches = emb.select(
      col("vec_id"),
      Vectors.srpSketchFast(spark, col("embedding"), 0).as("n0"),
      Vectors.srpSketchFast(spark, col("embedding"), 1).as("n1"))
      .join(gt, Seq("vec_id"))
      .where(col("n0") =!= col("e0") || col("n1") =!= col("e1"))
      .count()
    assert(mismatches == 0)
  }

  test("cosine: zip_with/aggregate matches a locally computed value") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").where(col("vec_id") < 2)
      .collect().map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
    val expected = {
      val Array(a, b) = emb
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val got = e.where(col("vec_id") === 0).select(col("embedding").as("a"))
      .crossJoin(e.where(col("vec_id") === 1).select(col("embedding").as("b")))
      .select(Vectors.cosine(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(got - expected) < 1e-9)
  }
}
