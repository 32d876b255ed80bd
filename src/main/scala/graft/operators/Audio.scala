package graft.operators

import graft.Kernel
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/**
 * Audio columns as opaque binaries + typed metadata — the audio leg of
 * the multimodal surface ([[Multimodal]] covers images/video frames).
 * A pure-JVM RIFF/WAVE parser decodes PCM 8/16/24/32-bit and IEEE
 * float32 payloads (the formats crawl audio actually ships uncompressed);
 * compressed codecs (mp3/aac/opus) have no JVM decoder here and
 * degrade to null, never crash — the [[Multimodal.decodeMeta]]
 * discipline. Feature extraction (duration, RMS loudness, peak,
 * zero-crossing rate, per-frame energies) runs scan-side in one typed
 * `mapPartitions` pass per payload: no shuffle, no row blowup — at
 * 100 TB the only data movement is whatever the caller aggregates.
 */
object Audio {

  /** Decoded WAV: normalized samples per channel in [-1, 1) (integer
    * PCM divided by 2^(bits-1) — an EXACT dyadic scaling — unsigned
    * 8-bit re-centered at 128; float32 taken as-is). */
  final case class Wav(sampleRate: Int, channels: Int, bits: Int,
      samples: Array[Array[Double]]) {
    def nSamples: Int = if (samples.isEmpty) 0 else samples(0).length
  }

  /** RIFF/WAVE chunk-walking parser. Tolerates non-canonical layouts
    * (LIST/fact/cue chunks before data, extended fmt with cbSize,
    * WAVE_FORMAT_EXTENSIBLE with a PCM/float GUID); returns None on
    * anything malformed or out-of-surface. */
  object WavDecoder {
    def decode(b: Array[Byte]): Option[Wav] = {
      def u8(i: Int) = b(i) & 0xff
      def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
      def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      def tag(i: Int) = new String(b, i, 4, "US-ASCII")
      if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
      var fmt = -1
      var channels = 0
      var rate = 0
      var bits = 0
      var dataOff = -1
      var dataLen = 0
      var p = 12
      while (p + 8 <= b.length && (fmt < 0 || dataOff < 0)) {
        val id = tag(p)
        val sz = le32(p + 4)
        if (sz < 0 || p + 8 + sz > b.length) return None
        id match {
          case "fmt " =>
            if (sz < 16) return None
            fmt = le16(p + 8)
            channels = le16(p + 10)
            rate = le32(p + 12)
            bits = le16(p + 22)
            if (fmt == 0xFFFE) { // WAVE_FORMAT_EXTENSIBLE: real fmt = GUID head
              if (sz < 40) return None
              fmt = le16(p + 32)
            }
          case "data" =>
            dataOff = p + 8
            dataLen = sz
          case _ => // LIST / fact / cue / bext ... skipped
        }
        p += 8 + sz + (sz & 1) // chunks are word-aligned
      }
      if (fmt < 0 || dataOff < 0 || channels <= 0 || rate <= 0) return None
      val bytesPer = bits / 8
      if (fmt == 1 && !Set(8, 16, 24, 32).contains(bits)) return None
      if (fmt == 3 && bits != 32) return None
      if ((fmt == 6 || fmt == 7) && bits != 8) return None // G.711 is 8-bit
      if (fmt != 1 && fmt != 3 && fmt != 6 && fmt != 7)
        return None // compressed codec: out of surface
      val frameB = bytesPer * channels
      if (frameB == 0 || dataLen % frameB != 0) return None
      val n = dataLen / frameB
      val out = Array.fill(channels)(new Array[Double](n))
      var i = 0
      while (i < n) {
        var c = 0
        while (c < channels) {
          val off = dataOff + i * frameB + c * bytesPer
          out(c)(i) = (fmt, bits) match {
            case (1, 8)  => (u8(off) - 128) / 128.0 // unsigned by spec
            case (1, 16) => le16(off).toShort / 32768.0
            case (1, 24) =>
              val v = u8(off) | (u8(off + 1) << 8) | (u8(off + 2) << 16)
              ((v << 8) >> 8) / 8388608.0 // sign-extend 24 -> 32
            case (1, 32) => le32(off) / 2147483648.0
            case (3, 32) => java.lang.Float.intBitsToFloat(le32(off)).toDouble
            case (6, 8)  => alawToPcm16(u8(off)) / 32768.0 // WAVE_FORMAT_ALAW
            case (7, 8)  => ulawToPcm16(u8(off)) / 32768.0 // WAVE_FORMAT_MULAW
            case _       => return None
          }
          c += 1
        }
        i += 1
      }
      Some(Wav(rate, channels, bits, out))
    }
  }

  /** G.711 μ-law byte -> linear PCM16 (ITU-T G.711 segmented
    * companding; the classic public-domain expansion: complement,
    * rebias by 0x84, shift by the 3-bit segment). Exact integers —
    * the SQL oracle restates the identical bit arithmetic. */
  def ulawToPcm16(code: Int): Int = {
    val u = ~code & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u >> 4) & 7)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law byte -> linear PCM16 (xor 0x55, segment 0 linear,
    * segments 1+ rebias by 0x108 and shift; sign bit SET = positive,
    * per the spec's even-bit inversion). */
  def alawToPcm16(code: Int): Int = {
    val a = code ^ 0x55
    val seg = (a >> 4) & 7
    val t = (a & 0x0f) << 4
    val mag = seg match {
      case 0 => t + 8
      case 1 => t + 0x108
      case _ => (t + 0x108) << (seg - 1)
    }
    if ((a & 0x80) != 0) mag else -mag
  }

  /** Canonical G.711 WAV writer (`fmtTag` 6 = A-law, 7 = μ-law): one
    * code byte per sample, mono; the 18-byte fmt chunk (cbSize = 0)
    * plus a fact chunk, as G.711 WAVs ship in the wild. */
  def writeWavG711(sampleRate: Int, fmtTag: Int, codes: Array[Byte]): Array[Byte] = {
    require(fmtTag == 6 || fmtTag == 7, s"fmtTag $fmtTag is not G.711")
    val dataLen = codes.length
    val bb = java.nio.ByteBuffer.allocate(12 + 26 + 12 + 8 + dataLen + (dataLen & 1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII"))
      .putInt(4 + 26 + 12 + 8 + dataLen + (dataLen & 1))
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(18)
      .putShort(fmtTag.toShort).putShort(1).putInt(sampleRate)
      .putInt(sampleRate).putShort(1).putShort(8).putShort(0)
    bb.put("fact".getBytes("US-ASCII")).putInt(4).putInt(dataLen)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen).put(codes)
    bb.array()
  }

  /** Canonical 44-byte-header PCM16 writer (fixture synthesis and a
    * sink for decoded audio). */
  def writeWavPcm16(sampleRate: Int, samples: Array[Array[Short]]): Array[Byte] = {
    val channels = samples.length
    require(channels > 0 && samples.forall(_.length == samples(0).length),
      "channels must be non-empty and equal-length")
    val n = samples(0).length
    val dataLen = n * channels * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2).putShort((channels * 2).toShort).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      var c = 0
      while (c < channels) { bb.putShort(samples(c)(i)); c += 1 }
      i += 1
    }
    bb.array()
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("duration", DoubleType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("peak", DoubleType, nullable = false),
    StructField("zero_cross", IntegerType, nullable = false)))

  /** Per-payload scalar features over channel 0: duration (s), RMS and
    * peak of the normalized amplitude, strict sign-change count
    * (`s_i · s_{i-1} < 0`). Null payload / corrupt bytes / compressed
    * codec -> null struct. */
  def withWavFeatures(df: DataFrame, binCol: String, outCol: String): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    Kernel(df, Seq(StructField(outCol, featureSchema))) { () =>
      _.iterator.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val decoded = if (bytes == null) None else WavDecoder.decode(bytes)
        decoded match {
          case None => null
          case Some(w) =>
            val s = w.samples(0)
            var ss = 0.0
            var peak = 0.0
            var zc = 0
            var i = 0
            while (i < s.length) {
              val v = s(i)
              ss += v * v
              val a = math.abs(v)
              if (a > peak) peak = a
              if (i > 0 && s(i - 1) * v < 0) zc += 1
              i += 1
            }
            val n = s.length
            val rms = if (n == 0) 0.0 else math.sqrt(ss / n)
            Row(w.sampleRate, w.channels, w.bits, n,
              n.toDouble / w.sampleRate, rms, peak, zc)
        }
      }
    }
  }

  /** Frame-level energies over channel 0 (window `frameLen`, stride
    * `hop`, tail frames shorter than `frameLen` dropped — the standard
    * STFT framing): one output row per frame, `(id, frame_no, rms)`.
    * The audio analog of [[Multimodal.sampleFrames]]; scan-side
    * flatMap, row count = Σ frames (bounded by payload length / hop). */
  def frameEnergies(df: DataFrame, idCol: String, binCol: String,
      frameLen: Int, hop: Int): DataFrame = {
    require(frameLen > 0 && hop > 0, s"frameLen/hop must be positive")
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("rms", DoubleType, nullable = false)))
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    graft.Spread(df).mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val decoded = if (bytes == null) None else WavDecoder.decode(bytes)
        decoded match {
          case None => Iterator.empty
          case Some(w) =>
            val s = w.samples(0)
            val nf = if (s.length < frameLen) 0 else (s.length - frameLen) / hop + 1
            (0 until nf).iterator.map { f =>
              var ss = 0.0
              var i = 0
              while (i < frameLen) { val v = s(f * hop + i); ss += v * v; i += 1 }
              Row(r.get(idIdx), f, math.sqrt(ss / frameLen))
            }
        }
      }
    }(Encoders.row(outSchema))
  }
}
