package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Chunking, Dedup, RuleFilters, Sampling, SimilaritySearch}

/** V-series: published rule-based document filters (Gopher rules, C4
  * line-level cleaning) over planted fixtures that exercise the rule
  * dimensions the synthetic corpus can't (bullets, ellipses, symbols,
  * non-alphabetic words, multi-line structure). */
class VSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def words(n: Int, w: String = "the"): String =
    Seq.fill(n)(w).mkString(" ")

  // ------------------------------------------------------------- V1
  test("gopher_rules evaluates every rule dimension on planted fixtures") {
    val good = (1 to 60).map(i => if (i % 2 == 0) "with" else s"word$i")
      .mkString(" ") // 60 words, alphabetic, has {with, the?}.. uses 'with'
    val docs = Seq(
      // passes everything: 60 words incl >=2 gopher stopwords
      (1L, s"the of $good"),
      // too short: 10 words
      (2L, s"the of ${words(8, "alpha")}"),
      // mean word length too high: long tokens
      (3L, (1 to 60).map(_ => "x" * 15).mkString(" ") + " the of"),
      // symbol-heavy: '#' on most words
      (4L, "the of " + (1 to 60).map(i => s"#w$i").mkString(" ")),
      // bullet-heavy: every line starts with '- '
      (5L, (1 to 10).map(i => s"- the of ${words(5, s"b$i")}").mkString("\n")),
      // ellipsis-heavy: every line ends with '...'
      (6L, (1 to 10).map(i => s"the of ${words(5, s"e$i")}...").mkString("\n")),
      // numeric soup: words carry no letters
      (7L, "the of " + (1 to 60).map(i => (i * 37).toString).mkString(" ")),
      // no required stopwords at all
      (8L, words(60, "zzz"))
    ).toDF("doc_id", "text")
    val out = RuleFilters.gopherRulesFrom(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

    assert(out(1L).getAs[Boolean]("pass"), "fixture 1 must pass all rules")
    def failsOnly(id: Long, rule: String): Unit = {
      assert(!out(id).getAs[Boolean](rule), s"doc $id must fail $rule")
      assert(!out(id).getAs[Boolean]("pass"))
    }
    failsOnly(2L, "r_words")
    failsOnly(3L, "r_word_len")
    failsOnly(4L, "r_symbol")
    failsOnly(5L, "r_bullet")
    failsOnly(6L, "r_ellipsis")
    failsOnly(7L, "r_alpha")
    failsOnly(8L, "r_stopwords")
    // measured statistics, hand-computed
    assert(out(5L).getAs[Double]("bullet_frac") == 1.0)
    assert(out(6L).getAs[Double]("ellipsis_frac") == 1.0)
    assert(out(2L).getAs[Long]("n_words") == 10L)
    assert(out(8L).getAs[Long]("n_stopwords") == 0L)
    assert(out(1L).getAs[Long]("n_stopwords") >= 3L) // the, of, with
    // doc 7: 62 words, 2 alphabetic -> alpha_frac ≈ 0.032 < 0.8
    assert(out(7L).getAs[Double]("alpha_frac") < 0.8)
  }

  // ------------------------------------------------------------- V2
  test("c4_clean applies the line and page rules and hashes the transform") {
    val goodLine = "this line has enough words to survive the cut."
    val docs = Seq(
      // clean page: 3 good lines -> 3 sentences, kept
      (1L, Seq(goodLine, goodLine, goodLine).mkString("\n")),
      // line rules: no terminal punct / too few words / javascript
      (2L, Seq(goodLine,
        "no terminal punctuation on this line at all",
        "too few.",
        "enable Javascript to view this page.").mkString("\n")),
      // page rules: lorem ipsum and curly brace
      (3L, Seq(goodLine, goodLine, goodLine, "Lorem Ipsum dolor sit amet.")
        .mkString("\n")),
      (4L, Seq(goodLine, goodLine, goodLine, "function() { return 1; }")
        .mkString("\n")),
      // too few sentences after cleaning
      (5L, Seq(goodLine, "dropped line with no punct").mkString("\n"))
    ).toDF("doc_id", "text")
    val out = RuleFilters.c4CleanFrom(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

    assert(out(1L).getAs[Boolean]("page_kept"))
    assert(out(1L).getAs[Long]("n_lines_kept") == 3L)
    assert(out(1L).getAs[Long]("n_sentences") == 3L)
    // doc 2 keeps only the good line: 1 sentence -> page dropped
    assert(out(2L).getAs[Long]("n_lines") == 4L)
    assert(out(2L).getAs[Long]("n_lines_kept") == 1L)
    assert(!out(2L).getAs[Boolean]("page_kept"))
    assert(out(3L).getAs[Boolean]("has_lorem") &&
      !out(3L).getAs[Boolean]("page_kept"))
    assert(out(4L).getAs[Boolean]("has_brace") &&
      !out(4L).getAs[Boolean]("page_kept"))
    assert(out(5L).getAs[Long]("n_sentences") == 1L &&
      !out(5L).getAs[Boolean]("page_kept"))
    // the transform itself: doc 1's cleaned text is exactly 3 good lines
    val expectMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Seq(goodLine, goodLine, goodLine).mkString("\n")
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L).getAs[String]("cleaned_md5") == expectMd5)
    // doc 2's single kept line survives verbatim
    assert(out(2L).getAs[Long]("n_chars_kept") == goodLine.length.toLong)
  }

  // ------------------------------------------------------------- V3
  test("proto_prune drops exactly the above-cut prototypical rows per cluster") {
    // two planted clusters on the 2-D axes; member i sits at a
    // deterministic small angle off its axis, so prototypicality
    // (cosine to the centroid) varies within each cluster
    val vecs = (0 until 120).map { i =>
      val a = 0.01 + i * 0.004 // radians, unique per member, < 28 degrees
      val (x, y) = (math.cos(a).toFloat, math.sin(a).toFloat)
      if (i % 2 == 0) (i.toLong, Seq(x, y)) else (i.toLong, Seq(y, x))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cid", "c_emb")
    val out = SimilaritySearch.protoPruneOn(spark, emb, cents).collect()
    assert(out.length == 120)
    // unambiguous assignment: even ids hug the x axis -> cid 0
    out.foreach { r =>
      val want = if (r.getAs[Long]("vec_id") % 2 == 0) 0 else 1
      assert(r.getAs[Int]("cid") == want, s"wrong assignment: $r")
    }
    // keep rule is exactly proto <= cut (ties kept, null cut keeps)
    out.foreach { r =>
      val cut = Option(r.get(3)).map(_.asInstanceOf[Double])
      val expect = cut.forall(c => r.getAs[Double]("proto") <= c)
      assert(r.getAs[Boolean]("keep") == expect, s"keep rule violated: $r")
    }
    // the cut is the ceil(n*0.2)-th largest proto of the hash sample,
    // recomputed independently in the JVM (sampling + order statistic)
    def bucket(id: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:proto".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(h.take(4), 16)
    }
    val byCid = out.groupBy(_.getAs[Int]("cid"))
    byCid.foreach { case (cid, rows) =>
      val samp = rows.filter(r => bucket(r.getAs[Long]("vec_id")) < 16384)
        .map(r => (r.getAs[Double]("proto"), r.getAs[Long]("vec_id")))
        .sortBy { case (p, id) => (-p, id) }
      assert(samp.nonEmpty, s"fixture must sample cluster $cid")
      val wantCut = samp(math.ceil(samp.size * 0.2).toInt - 1)._1
      val gotCuts = rows.flatMap(r => Option(r.get(3)).map(_.asInstanceOf[Double]))
      assert(gotCuts.distinct.toSeq == Seq(wantCut),
        s"cluster $cid cut ${gotCuts.distinct.toSeq} != independent $wantCut")
      // threshold semantics imply the drops are the cluster's top rows
      val kept = rows.filter(_.getAs[Boolean]("keep")).map(_.getAs[Double]("proto"))
      val dropped = rows.filterNot(_.getAs[Boolean]("keep")).map(_.getAs[Double]("proto"))
      assert(dropped.nonEmpty, s"fixture must prune something in cluster $cid")
      assert(kept.max <= dropped.min)
    }
  }

  test("proto_prune: an all-zero centroid changes no row's cid, proto, cut or keep") {
    // Lloyd's mean of opposing members can be the zero vector; its
    // cosine is NaN against every row. The assignment's rule is that
    // NaN loses, so the centroid must be inert: neither winning rows
    // nor turning the winner's prototypicality score into NaN
    val vecs = (0 until 120).map { i =>
      val a = 0.01 + i * 0.004
      val (x, y) = (math.cos(a).toFloat, math.sin(a).toFloat)
      if (i % 2 == 0) (i.toLong, Seq(x, y)) else (i.toLong, Seq(y, x))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val two = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
    def run(cents: Seq[(Int, Seq[Double])]) =
      SimilaritySearch.protoPruneOn(spark, emb, cents.toDF("cid", "c_emb"))
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cid"),
          r.getAs[Double]("proto"), Option(r.get(3)), r.getAs[Boolean]("keep")))
        .toSeq
    val base = run(two)
    val withZero = run(two :+ ((2, Seq(0.0, 0.0))))
    assert(base.size == 120 && base.count(!_._5) > 0, "fixture must prune")
    assert(withZero.forall(r => !r._3.isNaN), "a NaN proto reached the output")
    assert(withZero == base,
      s"zero centroid moved rows: ${withZero.diff(base).take(5)}")
  }

  // ------------------------------------------------------------- W1
  test("sample_pareto implements the GPT-3 keep rule bit-exactly and tilts by quality") {
    // bimodal corpus: diverse 120-word docs vs 10x-repeated-word docs
    val docs = (0 until 300).map { i =>
      if (i < 150) (i.toLong, (1 to 120).map(j => s"w${i}x$j").mkString(" "))
      else (i.toLong, Seq.fill(40)("dup").mkString(" "))
    }.toDF("doc_id", "text")
    val out = Sampling.paretoSampleFrom(docs).collect()
    assert(out.length == 300)
    // independent JVM recompute of the whole decision path: score ->
    // hash uniform -> square-and-multiply chain -> margin < 1
    val textById = (0 until 300).map { i =>
      if (i < 150) (1 to 120).map(j => s"w${i}x$j").mkString(" ")
      else Seq.fill(40)("dup").mkString(" ")
    }
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val text = textById(id.toInt)
      val nTok = text.count(_ == ' ').toLong + 1
      val nTypes = text.split(" ").distinct.length.toLong
      val s = 0.5 * math.min(1.0, nTok.toDouble / 100.0) +
        0.5 * (nTypes.toDouble / nTok)
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:pareto".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val ub = Integer.parseInt(h.take(4), 16)
      assert(r.getAs[Long]("u_bucket") == ub.toLong)
      val b = 2.0 - s; val b2 = b * b; val b4 = b2 * b2; val b8 = b4 * b4
      val margin = (1.0 - ub.toDouble / 65536.0) * (b8 * b)
      assert(r.getAs[Boolean]("keep") == (margin < 1.0),
        s"keep decision diverges for doc $id")
      assert(math.abs(r.getAs[Double]("pareto_margin") -
        BigDecimal(margin).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble) == 0.0)
    }
    // quality tilt: near-certain keep at s~1, rare keep at low s
    val keepOf = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val hiRate = (0 until 150).count(i => keepOf(i.toLong)).toDouble / 150
    val loRate = (150 until 300).count(i => keepOf(i.toLong)).toDouble / 150
    assert(hiRate > 0.95, s"high-quality keep rate $hiRate")
    assert(loRate < 0.2, s"low-quality keep rate $loRate")
    assert(hiRate > loRate + 0.5)
  }

  // ------------------------------------------------------------- W2
  test("lsh_recall buckets ground-truth jaccard correctly and collides exact twins") {
    // 40 docs: 10 unrelated, then 15 pairs at graded overlap — doc
    // 2i+10 and 2i+11 share a prefix of the same tokens, so their
    // jaccard sweeps the mid-deciles as the prefix grows
    val mk = (tag: String, n: Int) => (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = ((0 until 10).map(i => (i.toLong, mk(s"u${i}_", 50))) ++
      (0 until 15).flatMap { i =>
        val shared = mk(s"s${i}_", 10 + i * 6)
        Seq((10L + 2 * i, s"$shared ${mk(s"a${i}_", 20)}"),
          (11L + 2 * i, s"$shared ${mk(s"b${i}_", 20)}"))
      } ++ Seq((40L, mk("tw_", 60)), (41L, mk("tw_", 60)))) // exact twins
      .toDF("doc_id", "text")
    val out = Dedup.lshRecallFrom(spark, docs).collect()
      .map(r => r.getAs[Int]("jac_decile") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_collide"))).toMap

    // every pair of the 42-doc probe is graded exactly once
    assert(out.values.map(_._1).sum == 42L * 41 / 2)
    // independent JVM ground truth: shingle, jaccard, decile
    def shingles(text: String): Set[String] = {
      val t = text.split(" ")
      val upper = math.max(t.length - 2, 1)
      (0 until upper).map(i => t.slice(i, i + 3).mkString(" ")).toSet
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val wantHist = (for {
      a <- texts.keys.toSeq; b <- texts.keys.toSeq if a < b
      sa = shingles(texts(a)); sb = shingles(texts(b))
      inter = (sa intersect sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
    } yield math.min(math.floor(jac * 10).toInt, 9))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(out.view.mapValues(_._1).toMap == wantHist,
      s"decile histogram diverges: got ${out.view.mapValues(_._1).toMap} want $wantHist")
    // mid-similarity deciles are actually populated by the fixture
    assert(wantHist.keys.count(d => d >= 2 && d <= 8) >= 3,
      s"fixture must sweep mid deciles: $wantHist")
    // identical shingle sets -> identical signatures -> all bands
    // collide: the exact-twin decile has full recall
    assert(out(9)._2 >= 1L && out(9)._1 == out(9)._2,
      s"exact twins must collide: ${out(9)}")
  }

  // ------------------------------------------------------------- X1
  test("cdc_dedup chunking is content-defined: head insertions don't break alignment") {
    val base = (1 to 80).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, s"x1 x2 x3 $base"), // 3-token head insertion
      (3L, (1 to 50).map(i => s"u$i").mkString(" ")), // unrelated
      (4L, base) // exact twin of 1
    ).toDF("doc_id", "text")
    val out = Chunking.cdcDedupFrom(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    // exact twins: every chunk duplicated
    assert(out(1L).getAs[Double]("dup_frac") == 1.0)
    assert(out(4L).getAs[Double]("dup_frac") == 1.0)
    // unrelated doc: nothing duplicated
    assert(out(3L).getAs[Long]("dup_tokens") == 0L)
    // the shifted doc realigns after its first content boundary: all
    // chunks but the (insertion-bearing) head chunk are shared with
    // the base doc — the property fixed-window chunking lacks
    val d2 = out(2L)
    assert(d2.getAs[Long]("n_tokens") == 83L)
    // unique chunks are confined to the insertion region: the head
    // chunk, plus at most one more if a mixed gram (x-tokens + base
    // tokens) happens to hit the divisor and split the head early
    assert(d2.getAs[Long]("dup_chunks") >= d2.getAs[Long]("n_chunks") - 2,
      s"non-head chunks must realign: $d2")
    assert(d2.getAs[Long]("dup_chunks") < d2.getAs[Long]("n_chunks"),
      s"the insertion-bearing head chunk must be unique: $d2")
    assert(d2.getAs[Double]("dup_frac") > 0.5, s"mass must realign: $d2")
    // independent JVM recompute of the boundary rule and chunk count
    // for the unrelated doc (pins the hash, window, divisor, doc-end)
    def bucket(gram: String): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$gram:cdc".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(h.take(4), 16)
    }
    val toks3 = (1 to 50).map(i => s"u$i")
    val bnds = (1 to 50).filter { p =>
      p == 50 || (p >= Chunking.CdcWindow &&
        bucket(toks3.slice(p - Chunking.CdcWindow, p).mkString(" ")) %
          Chunking.CdcDivisor == 0)
    }
    assert(out(3L).getAs[Long]("n_chunks") == bnds.size.toLong,
      s"chunk count ${out(3L)} != independent ${bnds.size}")
  }

  // ------------------------------------------------------------- X2
  test("cdc_dedup_incremental prices new-batch chunks against the corpus only") {
    val passage = (1 to 40).map(i => s"p$i").mkString(" ")
    val old = Seq(
      (1L, s"$passage ${(1 to 30).map(i => s"o$i").mkString(" ")}"),
      (2L, (1 to 60).map(i => s"q$i").mkString(" "))
    ).toDF("doc_id", "text")
    val fresh = Seq(
      // exact copy of old doc 1: every chunk must hit
      (10L, s"$passage ${(1 to 30).map(i => s"o$i").mkString(" ")}"),
      // carries the corpus passage plus fresh tail
      (11L, s"$passage ${(1 to 30).map(i => s"z$i").mkString(" ")}"),
      // fully fresh: nothing hits
      (12L, (1 to 50).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Chunking.cdcDedupIncrementalFrom(old, fresh).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    assert(out.keySet == Set(10L, 11L, 12L), "only the new batch is graded")
    assert(out(10L).getAs[Double]("dup_frac") == 1.0,
      s"exact old copy must fully hit: ${out(10L)}")
    assert(out(12L).getAs[Long]("dup_tokens") == 0L)
    // the passage carrier realigns on the corpus passage's interior
    // chunks even though its tail diverges
    val d11 = out(11L)
    assert(d11.getAs[Long]("dup_tokens") > 0L, s"passage must hit: $d11")
    assert(d11.getAs[Long]("dup_chunks") < d11.getAs[Long]("n_chunks"),
      s"fresh tail must not hit: $d11")
    // X2 agrees with X1 on the exact-copy case: the batch-mode report
    // over old+copy marks the copy fully duplicated too
    val both = Chunking.cdcDedupFrom(old.unionByName(fresh.where(col("doc_id") === 10L)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(both(10L).getAs[Double]("dup_frac") == 1.0)
  }

  // ------------------------------------------------------------- X3
  test("streaming cdc gate emits exactly the batch X2 collision mass") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.Tables
    val sf = sfDir
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdcs").toString
    try {
      val docs = Tables.documents(spark, sf)
      val isNew = Chunking.isCdcNew(col("doc_id"))
      docs.where(isNew).write.parquet(s"$tmp/new")
      // static side rebuilt ad hoc here; production persists
      // corpusChunkIndex once (smoke-checked below)
      val staticIdx = graft.operators.Chunking
        .cdcChunks(docs.where(!isNew)).select("sig").distinct()
      val idx = graft.streaming.DocStreams.corpusChunkIndex(spark, sf)
      val name = "cdcgate_" + System.nanoTime()
      val q = graft.streaming.DocStreams
        .cdcMatches(spark, s"$tmp/new", staticIdx)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val streamed = spark.table(name)
        .groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.count(col("sig")).as("dup_chunks"),
          org.apache.spark.sql.functions.sum(col("ctok")).as("dup_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Chunking
        .cdcDedupIncrementalFrom(docs.where(!isNew), docs.where(isNew))
        .where(col("dup_chunks") > 0)
        .select("doc_id", "dup_chunks", "dup_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"stream diverged from batch X2 on ${(streamed diff batch).size}+${(batch diff streamed).size} rows")
      assert(idx.count() > 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }
}
