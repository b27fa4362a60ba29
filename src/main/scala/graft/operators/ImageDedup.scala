package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.security.MessageDigest

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.sources.Tables

/** F2/F3: image-CONTENT deduplication — the family F1 (header
  * metadata) stopped short of. A multimodal training corpus needs two
  * image dedup layers: exact byte dedup (same file ingested twice)
  * and PERCEPTUAL near-dup (re-encoded, brightness-shifted, slightly
  * noised copies), and neither can come from declared metadata — both
  * must read the payload.
  *
  * Pipeline, all REAL codec work (javax.imageio, in-JVM, public):
  *   1. render each document's deterministic synthetic image and
  *      encode it as an actual PNG (`renderPng` — `ImageIO.write`,
  *      real deflate stream);
  *   2. exact layer: md5 over the PNG bytes, hash-groupBy — C1's
  *      shape on the binary column (F2);
  *   3. perceptual layer: `ImageIO.read` the PNG back to pixels,
  *      block-average resize to the 9×8 dHash grid, difference-hash
  *      to 64 bits (`dHash` — the published dHash algorithm), and
  *      feed the EXISTING Manku block-pair hamming index
  *      (`Dedup.hammingPairsOf`) unchanged for ham ≤ 4 pairs (F3).
  *
  * Oracle construction: the synthetic image is built so its dHash
  * recovers the document's C3 simhash EXACTLY — each of the 8 rows
  * walks its 9 cells ±`Step` gray levels by the simhash's bits, so
  * the row's adjacent-cell differences ARE the bits; row base levels
  * carry 7 bits each of md5(text), so byte-identity of the PNG tracks
  * text identity. DuckDB can therefore predict both layers portably
  * (md5(text) groups; the C3 simhash SQL) while the Spark side
  * actually round-trips pixels through the codec — ImageDedupSpec
  * additionally pins the recovery bit-for-bit and its invariance
  * under global brightness shift and bounded pixel noise (the
  * perceptual property that makes dHash a near-dup signal).
  *
  * Scale shape: render/decode are the legitimate per-blob
  * `mapPartitions` class (per-partition codec setup, lazy iterator —
  * the Multimodal F1 rationale); everything after the narrow decode
  * is C1's/C3's own measured-scalable shape. At 100 TB the corpus
  * arrives as binary columns and step 1 disappears — the operators
  * take any (doc_id, png) frame.
  */
object ImageDedup {

  /** dHash grid: 9 columns × 8 rows → 8 differences/row → 64 bits
    * (the upper 4 are zero here: simhash is 60-bit). */
  private val Cols = 9
  private val Rows = 8
  /** Cell edge in pixels (block-exact resize: image is Cols·S × Rows·S). */
  private val S = 8
  /** Adjacent-cell gray step encoding one bit. With row bases in
    * [64, 191] and ≤8 steps of ±6, pixel values stay in [16, 239] —
    * ±16 headroom so a global brightness shift can't clamp and flip a
    * difference. */
  private val Step = 6

  case class ImageBlob(doc_id: Long, png: Array[Byte])
  case class ImageSig(doc_id: Long, simhash: Long)

  /** Render the 72×64 gray image whose dHash is `hash` and whose row
    * base levels carry md5 bytes (7 bits each) — then encode as a
    * REAL PNG via ImageIO. Pure function of (hash, md5hex). */
  private[graft] def renderPng(hash: Long, md5hex: String): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    // explicit memory-cache stream: ImageIO's default stream factory
    // honors useCache=true and spools through a TEMP FILE per call —
    // two disk round trips per document in the hot mapPartitions path
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    ImageIO.write(renderGrid(hash, md5hex), "png", ios)
    ios.close()
    baos.toByteArray
  }

  /** The raster behind `renderPng` — shared with the video limb
    * (F8/F9 encode the same grid per FRAME through a different
    * codec). */
  private[graft] def renderGrid(hash: Long, md5hex: String): BufferedImage = {
    val img = new BufferedImage(Cols * S, Rows * S, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var r = 0
    while (r < Rows) {
      val base = 64 + Integer.parseInt(md5hex.substring(2 * r, 2 * r + 2), 16) / 2
      var g = base
      var x = 0
      while (x < Cols) {
        if (x > 0) {
          val bit = (hash >>> (r * 8 + (x - 1))) & 1L
          g += (if (bit == 1L) Step else -Step)
        }
        var dy = 0
        while (dy < S) {
          var dx = 0
          while (dx < S) {
            raster.setSample(x * S + dx, r * S + dy, 0, g)
            dx += 1
          }
          dy += 1
        }
        x += 1
      }
      r += 1
    }
    img
  }

  /** The published dHash over ANY decodable image: grayscale
    * block-average resize to (Cols, Rows), bit r·8+x set iff cell
    * (r, x+1) is brighter than cell (r, x). Returns None for an
    * undecodable payload (degrade, don't fail the pipeline). */
  private[graft] def dHash(png: Array[Byte]): Option[Long] = {
    // memory-cache stream for the same temp-file reason as renderPng;
    // ImageIO.read(ImageInputStream) closes the stream itself
    val img = ImageIO.read(new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(png)))
    if (img == null) None else dHashOf(img)
  }

  /** [[dHash]] over an already-decoded raster — shared with the video
    * limb, whose frames arrive from a container reader. */
  private[graft] def dHashOf(img: BufferedImage): Option[Long] = {
    {
      val w = img.getWidth
      val h = img.getHeight
      if (w < Cols || h < Rows) None
      else {
        // area-average into the Cols×Rows grid (integer block bounds:
        // exact mean when dimensions divide, standard resample else).
        // RAW raster samples, not getRGB: the latter routes gray
        // through a linear→sRGB colorspace conversion that quantizes
        // — raster samples are the decoded bytes as written. EXCEPT
        // palette-indexed rasters (GIF frames): their samples are
        // palette INDICES in arbitrary order — resolve through the
        // IndexColorModel (sRGB palette entries, exact for the gray
        // values the writer stored).
        val raster = img.getRaster
        val icm = img.getColorModel match {
          case m: java.awt.image.IndexColorModel => m
          case _ => null
        }
        // COLOR components only: min(numBands, 3) would fold the
        // alpha band into luminance for gray+alpha (2-band) rasters,
        // where band 1 IS alpha — numColorComponents excludes alpha
        // for every layout (gray 1, gray+alpha 1, RGB 3, RGBA 3)
        val nBands = math.min(img.getColorModel.getNumColorComponents, 3)
        val cell = Array.ofDim[Double](Rows, Cols)
        var r = 0
        while (r < Rows) {
          val y0 = r * h / Rows; val y1 = (r + 1) * h / Rows
          var x = 0
          while (x < Cols) {
            val x0 = x * w / Cols; val x1 = (x + 1) * w / Cols
            var sum = 0L; var n = 0
            var y = y0
            while (y < y1) {
              var xx = x0
              while (xx < x1) {
                if (icm != null) {
                  sum += icm.getBlue(raster.getSample(xx, y, 0))
                  n += 1
                } else {
                  var b = 0
                  while (b < nBands) {
                    sum += raster.getSample(xx, y, b)
                    b += 1
                  }
                  n += nBands
                }
                xx += 1
              }
              y += 1
            }
            cell(r)(x) = sum.toDouble / n
            x += 1
          }
          r += 1
        }
        var bits = 0L
        r = 0
        while (r < Rows) {
          var x = 0
          while (x < Cols - 1) {
            if (cell(r)(x + 1) > cell(r)(x)) bits |= 1L << (r * 8 + x)
            x += 1
          }
          r += 1
        }
        Some(bits)
      }
    }
  }

  // ------------------------------------------------------------ frames
  /** (doc_id, png) — each document's synthetic image as real PNG
    * bytes. The simhash/md5 inputs are computed IN-PLAN in ONE narrow
    * pass (native shingle + simhash expressions composed — the same
    * chain C3's signature pipeline runs, so the planted hash is
    * bit-identical to `Dedup.simhashSigs`); only the codec encode
    * runs in mapPartitions. No join, no shuffle before the encode. */
  def imageTable(spark: SparkSession, dir: String): Dataset[ImageBlob] = {
    import spark.implicits._
    val docs = Tables.parallelized(spark, Tables.documents(spark, dir))
    docs.select(col("doc_id"),
      Vectors.simhashFast(spark,
        Vectors.shinglesFast(spark, col("text"), 3, distinct = true)).as("simhash"),
      md5(col("text")).as("m"))
      .as[(Long, Long, String)]
      .mapPartitions { it =>
        it.map { case (id, sim, m) => ImageBlob(id, renderPng(sim, m)) }
      }
  }

  /** (doc_id, simhash) recovered from DECODED PIXELS — the perceptual
    * fingerprint frame the hamming index consumes. Undecodable blobs
    * are dropped with their ids intact upstream (None filter). */
  def decodedSigs(images: Dataset[ImageBlob]): Dataset[ImageSig] = {
    import images.sparkSession.implicits._
    images.mapPartitions { it =>
      it.flatMap(b => dHash(b.png).map(h => ImageSig(b.doc_id, h)))
    }
  }

  // ---------------------------------------------------------------- F2
  /** F2: exact image dedup — md5 over the real PNG bytes, C1's
    * hash-groupBy shape. Byte-identity tracks text identity by the
    * renderer's construction (the oracle groups on md5(text)). */
  def imageDedupExact(spark: SparkSession, dir: String): DataFrame =
    imageDedupExactFrom(imageTable(spark, dir).toDF())

  /** F2 over an arbitrary (doc_id, png) frame. */
  def imageDedupExactFrom(images: DataFrame): DataFrame = {
    val w = Window.partitionBy("img_md5")
    images
      .select(col("doc_id"), md5(col("png")).as("img_md5"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("canonical_id"), col("group_size"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  val imageDedupExactSql: String =
    """SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
      |  count(*) OVER (PARTITION BY md5(text)) AS group_size,
      |  doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- F3
  /** F3: perceptual near-dup pairs — real decode → dHash → the C3
    * Manku block-pair index, ham ≤ 4. The recovered hash equals the
    * text's simhash by construction, so the oracle is C3's own SQL —
    * while this side went through an actual PNG codec round trip. */
  def imageNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.hammingPairsOf(
      decodedSigs(imageTable(spark, dir)).toDF())

  val imageNearDupSql: String = Dedup.simhashSql

  // ---------------------------------------------------------------- F4
  /** F4: perceptual near-dup CLUSTERS — F3's pair graph closed into
    * connected components with G4's pointer-jumping min-label
    * machinery (the J8 composition, on image fingerprints): A≈B≈C
    * collapses to one canonical survivor even when A, C never shared
    * a table bucket. Only images with ≥1 near-dup edge appear (the
    * J8 report convention — isolated images would dilute the report
    * n-fold). Scale: pairs are F3's (bounded-bucket) output; each CC
    * round moves the edge-endpoint label table, never a pixel. */
  def imageDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = imageNearDup(spark, dir)
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    val (labels, _) = Dedup.propagateMinLabels(edges)
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** F4's twin: the C3 pair SQL as a CTE under the same recursive
    * transitive closure the G4/J8 oracles use. */
  val imageDupClustersSql: String =
    s"""WITH RECURSIVE sp AS (
      |${Dedup.simhashSql}
      |),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM sp
      |          UNION ALL SELECT doc_b, doc_a FROM sp),
      |reach(id, lbl) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id)
      |SELECT id AS doc_id, min(lbl) AS cluster_id,
      |  id = min(lbl) AS is_canonical
      |FROM reach GROUP BY id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- F5
  /** (band, key, old_id, old_sim) block-pair index of the existing
    * image corpus — the static side a streaming match probes. The
    * fingerprint rides along so the join emits EXACT hamming, not
    * just band collisions. At scale this is written once, bucketed on
    * (band, key), and reused across micro-batches (the H9 corpus-
    * index convention; capped like the batch buckets). */
  def imageBandIndex(spark: SparkSession, dir: String): DataFrame = {
    // bounded two-pass (Dedup.cappedMemberBuckets device): capped ids
    // per bucket, then the fingerprint joins back — minMembers = 1
    // because a one-member bucket is still probe-able index state
    val sigs = decodedSigs(imageTable(spark, dir)).toDF()
      .select("doc_id", "simhash").localCheckpoint()
    Dedup.cappedMemberBuckets(spark,
      Dedup.simhashBandsOf(sigs).select("doc_id", "band", "key"),
      Seq("band", "key"), "doc_id",
      sigs.select("doc_id", "simhash"), Seq("simhash"), minMembers = 1)
      .select(col("band"), col("key"), explode(col("sms")).as("m"))
      .select(col("band"), col("key"),
        col("m.doc_id").as("old_id"), col("m.simhash").as("old_sim"))
  }

  /** F5: STREAMING image near-dup — arriving blobs decode (the same
    * real codec pass, stream-safe: mapPartitions is narrow), band out
    * (one explode), and probe the static corpus index with a
    * stream-static equi-join; ham ≤ 4 filters at emission. Zero
    * streaming state, append mode, at-least-once per shared band
    * (H9's contract — distinct downstream). */
  def imageStreamMatches(stream: Dataset[ImageBlob],
                         corpusIndex: DataFrame): DataFrame =
    Dedup.simhashBandsOf(decodedSigs(stream).toDF())
      .join(corpusIndex, Seq("band", "key"))
      .where(col("doc_id") =!= col("old_id"))
      .select(col("doc_id"), col("old_id"),
        expr("CAST(bit_count(simhash ^ old_sim) AS INT)").as("hamming"))
      .where(col("hamming") <= 4)
}
