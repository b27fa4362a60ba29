package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Portable, Vectors}
import graft.sources.Tables

/** F6/F7: audio-content plumbing + perceptual dedup — the audio limb
  * of the multimodal family, built exactly like the image limb
  * (F1-F4): REAL container-format byte work (RIFF/WAVE chunk walk,
  * little-endian fmt parse, 16-bit PCM decode — the arithmetic every
  * WAV reader performs), with the synthetic payload constructed so a
  * published-class perceptual fingerprint recovers the document's C3
  * simhash and DuckDB can predict both layers portably.
  *
  * Fingerprint: 60 bits from RMS-energy comparisons of consecutive
  * fixed-width PCM frames — bit k = (rms(frame 2k+1) > rms(frame 2k)).
  * Energy-RATIO comparisons are GAIN-INVARIANT (scaling every sample
  * scales both sides) and robust to bounded noise — the same
  * invariance class that makes dHash perceptual for images; the spec
  * pins both. Near-dup pairs feed the EXISTING Manku block-pair
  * hamming index unchanged (`Dedup.hammingPairsOf`).
  *
  * Encode/decode run in the per-blob mapPartitions class (the F1
  * rationale); everything downstream is C3's measured shape. At
  * 100 TB the corpus arrives as binary columns and the render step
  * disappears — the operators take any (doc_id, wav) frame.
  */
object AudioDedup {

  /** 60 bits × one (quiet, loud?) frame pair each. */
  private val Bits = 60
  /** Samples per frame. */
  private val F = 40
  val SampleRate = 8000
  /** Amplitudes: bit=1 ⇒ second frame louder. Gaps wide enough that
    * ±[[NoiseHeadroom]] per-sample noise and any positive gain can't
    * flip an RMS comparison. */
  private val AmpBase = 2000
  private val AmpHi = 3000
  private val AmpLo = 1300
  private[graft] val NoiseHeadroom = 50

  case class AudioBlob(doc_id: Long, wav: Array[Byte])
  case class AudioMeta(doc_id: Long, sample_rate: Int, channels: Int,
                       bits: Int, n_samples: Long, duration_ms: Long)

  private def le16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
  }
  private def le32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
  }

  /** Real RIFF/WAVE encode: canonical 44-byte header (RIFF size, fmt
    * chunk with PCM tag/rate/block-align, data chunk length) over
    * 16-bit mono little-endian PCM. The waveform: per bit k, frame 2k
    * at [[AmpBase]] and frame 2k+1 at [[AmpHi]]/[[AmpLo]] by the
    * bit, each frame a ±amp square wave; a text-hash-derived silent
    * tail makes byte identity track text identity. */
  private[graft] def renderWav(hash: Long, tailSamples: Int): Array[Byte] = {
    val nSamples = Bits * 2 * F + tailSamples
    val dataLen = nSamples * 2
    val out = new ByteArrayOutputStream(44 + dataLen)
    out.write("RIFF".getBytes("US-ASCII")); le32(out, 36 + dataLen)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); le32(out, 16)
    le16(out, 1) // PCM
    le16(out, 1) // mono
    le32(out, SampleRate)
    le32(out, SampleRate * 2) // byte rate
    le16(out, 2)  // block align
    le16(out, 16) // bits/sample
    out.write("data".getBytes("US-ASCII")); le32(out, dataLen)
    var k = 0
    while (k < Bits) {
      val bit = (hash >>> k) & 1L
      val amps = Array(AmpBase, if (bit == 1L) AmpHi else AmpLo)
      var f = 0
      while (f < 2) {
        var i = 0
        while (i < F) {
          le16(out, if (i % 2 == 0) amps(f) else (-amps(f)) & 0xFFFF)
          i += 1
        }
        f += 1
      }
      k += 1
    }
    var t = 0
    while (t < tailSamples) { le16(out, 0); t += 1 }
    out.toByteArray
  }

  /** Real WAV parse: RIFF magic, chunk walk to `fmt ` (audio format,
    * channels, rate, bits) and `data` (PCM span). Returns None for an
    * unparseable payload. */
  private[graft] def parseWav(b: Array[Byte])
      : Option[(Int, Int, Int, Array[Short])] = {
    def u16(i: Int) = (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
    def u32(i: Int) = (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)
    if (b.length < 44 ||
        new String(b.slice(0, 4), "US-ASCII") != "RIFF" ||
        new String(b.slice(8, 12), "US-ASCII") != "WAVE") return None
    var pos = 12
    var rate = -1; var channels = -1; var bits = -1
    var samples: Array[Short] = null
    while (pos + 8 <= b.length) {
      val tag = new String(b.slice(pos, pos + 4), "US-ASCII")
      val len = u32(pos + 4)
      if (len < 0) return None // malformed length cannot advance
      if (tag == "fmt " && len >= 16) {
        channels = u16(pos + 10)
        rate = u32(pos + 12)
        bits = u16(pos + 22)
      } else if (tag == "data") {
        val n = math.min(len, b.length - pos - 8) / 2
        samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) = u16(pos + 8 + 2 * i).toShort
          i += 1
        }
      }
      pos += 8 + len + (len & 1) // RIFF chunks are 2-byte aligned
    }
    if (rate < 0 || samples == null) None
    else Some((rate, channels, bits, samples))
  }

  /** The RMS-comparison fingerprint over ANY decodable WAV (gain-
    * invariant, noise-robust — the audio analogue of dHash). */
  private[graft] def audioFingerprint(wav: Array[Byte]): Option[Long] =
    parseWav(wav).flatMap { case (_, _, _, s) =>
      if (s.length < Bits * 2 * F) None
      else {
        def rms(off: Int): Double = {
          var acc = 0.0; var i = 0
          while (i < F) { val v = s(off + i).toDouble; acc += v * v; i += 1 }
          math.sqrt(acc / F)
        }
        var bitsOut = 0L
        var k = 0
        while (k < Bits) {
          if (rms((2 * k + 1) * F) > rms(2 * k * F)) bitsOut |= 1L << k
          k += 1
        }
        Some(bitsOut)
      }
    }

  // ------------------------------------------------------------ frames
  /** Text-hash-derived silent-tail length (1..256 samples) — makes
    * n_samples/duration text-derived and byte identity track text
    * identity (the image family's base-level device). */
  private def tailOf(text: org.apache.spark.sql.Column) =
    Portable.hexPairToInt(md5(text), 5) + 1
  private def tailOfSql(text: String) =
    s"(${Portable.hexPairToIntSql(s"md5($text)", 5)} + 1)"

  /** (doc_id, wav): each document's synthetic waveform as real WAV
    * bytes — one narrow pass (native simhash + md5 in-plan), codec
    * encode in mapPartitions. */
  def audioTable(spark: SparkSession, dir: String): Dataset[AudioBlob] = {
    import spark.implicits._
    val docs = Tables.parallelized(spark, Tables.documents(spark, dir))
    docs.select(col("doc_id"),
      Vectors.simhashFast(spark,
        Vectors.shinglesFast(spark, col("text"), 3, distinct = true)).as("simhash"),
      tailOf(col("text")).as("tail"))
      .as[(Long, Long, Int)]
      .mapPartitions(_.map { case (id, sim, tail) =>
        AudioBlob(id, renderWav(sim, tail))
      })
  }

  // ---------------------------------------------------------------- F6
  /** F6: audio metadata — the real header parse over the payload
    * (never trusting declared metadata): rate/channels/bit-depth from
    * the fmt chunk, sample count from the data span, duration derived.
    * Oracle reconstructs every field from the construction. */
  def audioMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioTable(spark, dir).mapPartitions(_.flatMap { a =>
      parseWav(a.wav).map { case (rate, ch, bits, samples) =>
        AudioMeta(a.doc_id, rate, ch, bits, samples.length.toLong,
          samples.length.toLong * 1000L / rate)
      }
    }).toDF()
      .select(col("doc_id"), col("sample_rate"), col("channels"),
        col("bits"), col("n_samples"), col("duration_ms"))
      .orderBy("doc_id")
  }

  val audioMetaSql: String = {
    val n = s"(${Bits * 2 * F} + ${tailOfSql("text")})"
    s"""SELECT doc_id, $SampleRate AS sample_rate, 1 AS channels,
      |  16 AS bits, CAST($n AS BIGINT) AS n_samples,
      |  CAST($n * 1000 // $SampleRate AS BIGINT) AS duration_ms
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- F7
  /** F7: perceptual audio near-dup — decode PCM, recover the RMS
    * fingerprint, feed the C3 hamming index unchanged. The oracle is
    * C3's SQL (the fingerprint recovers the planted simhash through
    * the real codec round trip, as F3 does for pixels). */
  def audioNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.hammingPairsOf(
      audioTable(spark, dir).mapPartitions(_.flatMap(a =>
        audioFingerprint(a.wav).map(h => (a.doc_id, h))))
        .toDF("doc_id", "simhash"))
  }

  val audioNearDupSql: String = Dedup.simhashSql
}
