package graft.operators

import graft.Kernel
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/**
 * Video columns as opaque binaries + typed metadata — the third
 * modality leg ([[Multimodal]] images / frame sampling, [[Audio]]
 * WAV). A pure-JVM ISO-BMFF (MP4) BOX parser walks the container tree
 * (`ftyp` brand, `moov/mvhd` timescale+duration, `moov/trak/tkhd`
 * track count and presentation dims) — the metadata a crawl pipeline
 * filters and routes on — plus a RIFF/AVI walker whose MJPEG frames
 * decode to REAL pixels through the same JPEG path as still images
 * ([[aviFramePixels]]). For MP4 no codec is touched: frame DECODE
 * would need an H.264/AV1 implementation that has no JVM analog here,
 * so MP4 pixel access stays behind [[Multimodal.sampleFrames]]'s
 * documented stub, while the container parsing below is REAL
 * byte-level work (64-bit largesize boxes, nested walks, bounds
 * checks). Corrupt or non-conforming payloads degrade to null/empty,
 * never crash.
 */
object Video {

  final case class Mp4Meta(brand: String, timescale: Long, duration: Long,
      nTracks: Int, width: Int, height: Int) {
    def durationMs: Long = if (timescale == 0) 0L else duration * 1000L / timescale
  }

  object Mp4Parser {
    def decode(b: Array[Byte]): Option[Mp4Meta] = {
      def u32(i: Int): Long =
        ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
          ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
      def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
      def tag(i: Int) = new String(b, i, 4, "US-ASCII")

      // walk the boxes in [from, to); call f(type, payloadStart, payloadEnd)
      def walk(from: Int, to: Int)(f: (String, Int, Int) => Unit): Boolean = {
        var p = from
        while (p + 8 <= to) {
          val sz0 = u32(p)
          val typ = tag(p + 4)
          var payload = p + 8
          val end = sz0 match {
            case 0 => to // box extends to the end of the enclosing space
            case 1 => // 64-bit largesize follows the type
              if (p + 16 > to) return false
              val big = u64(p + 8)
              if (big < 16 || p + big > to) return false
              payload = p + 16
              p + big.toInt
            case n =>
              if (n < 8 || p + n > to) return false
              p + n.toInt
          }
          f(typ, payload, end)
          p = end
        }
        p == to
      }

      if (b.length < 12 || tag(4) != "ftyp") return None
      var brand: String = null
      var timescale = -1L
      var duration = -1L
      var nTracks = 0
      var width = 0
      var height = 0
      val ok = walk(0, b.length) { (typ, s, e) =>
        typ match {
          case "ftyp" if e - s >= 4 => brand = tag(s)
          case "moov" =>
            walk(s, e) { (t2, s2, e2) =>
              t2 match {
                case "mvhd" if e2 - s2 >= 4 =>
                  val version = b(s2) & 0xff
                  if (version == 1 && e2 - s2 >= 28 + 4) {
                    // v1: ctime/mtime u64, timescale u32, duration u64
                    timescale = u32(s2 + 20)
                    duration = u64(s2 + 24)
                  } else if (version == 0 && e2 - s2 >= 20 + 4) {
                    timescale = u32(s2 + 12)
                    duration = u32(s2 + 16)
                  }
                case "trak" =>
                  nTracks += 1
                  walk(s2, e2) { (t3, s3, e3) =>
                    if (t3 == "tkhd") {
                      val version = b(s3) & 0xff
                      // width/height are the LAST two 16.16-fixed u32s
                      val off = if (version == 1) 4 + 8 + 8 + 4 + 4 + 8 + 8 + 2 + 2 + 2 + 2 + 36
                                else 4 + 4 + 4 + 4 + 4 + 4 + 8 + 2 + 2 + 2 + 2 + 36
                      if (e3 - s3 >= off + 8) {
                        val wFix = u32(s3 + off)
                        val hFix = u32(s3 + off + 4)
                        if (width == 0 && (wFix | hFix) != 0) {
                          width = (wFix >> 16).toInt
                          height = (hFix >> 16).toInt
                        }
                      }
                    }
                  }
                case _ => // udta / iods / ... skipped
              }
            }
          case _ => // mdat / free / skip ...
        }
      }
      if (!ok || brand == null || timescale <= 0 || duration < 0) None
      else Some(Mp4Meta(brand, timescale, duration, nTracks, width, height))
    }
  }

  /** Minimal ISO-BMFF writer for fixtures and tests: ftyp + moov(mvhd
    * v0 + one trak/tkhd per (w, h)) + an empty mdat. */
  def writeMp4(brand: String, timescale: Int, duration: Long,
      tracks: Seq[(Int, Int)]): Array[Byte] = {
    require(duration >= 0 && duration <= 0xFFFFFFFFL,
      s"duration $duration does not fit mvhd v0's u32") // v1 is parse-only
    require(brand.length == 4, s"brand must be a 4cc: '$brand'")
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    val ftyp = box("ftyp", {
      val bb = java.nio.ByteBuffer.allocate(8)
      bb.put(brand.getBytes("US-ASCII")).putInt(0)
      bb.array()
    })
    val mvhd = box("mvhd", {
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.putInt(0) // version 0 + flags
      bb.putInt(0).putInt(0) // ctime, mtime
      bb.putInt(timescale).putInt(duration.toInt)
      bb.array() // rate/volume/matrix/next_track_id left zero
    })
    val traks = tracks.map { case (w, h) =>
      box("trak", box("tkhd", {
        val bb = java.nio.ByteBuffer.allocate(4 + 4 + 4 + 4 + 4 + 4 + 8 + 2 + 2 + 2 + 2 + 36 + 8)
        bb.position(bb.capacity - 8)
        bb.putInt(w << 16).putInt(h << 16)
        bb.array()
      }))
    }
    val moov = box("moov", mvhd ++ traks.flatten)
    ftyp ++ moov ++ box("mdat", Array.emptyByteArray)
  }

  val metaSchema: StructType = StructType(Seq(
    StructField("brand", StringType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  // ------------------------------------------------------ AVI / MJPEG

  /** AVI main-header metadata (RIFF `avih` + first video `strh`). */
  final case class AviMeta(handler: String, microSecPerFrame: Long,
      totalFrames: Int, nStreams: Int, width: Int, height: Int) {
    def fps: Double = if (microSecPerFrame == 0) 0.0 else 1e6 / microSecPerFrame
  }

  /**
   * RIFF/AVI container walker (little-endian, WORD-aligned chunks —
   * the opposite byte order of ISO-BMFF above): `hdrl/avih` main
   * header, the first `strl/strh` stream handler 4cc, and the
   * `movi` list's `##dc`/`##db` frame chunks. MJPEG (`MJPG`) frames
   * ARE complete JPEG streams, so frame decode routes through the
   * SAME `javax.imageio` path as still JPEGs
   * ([[Multimodal.PixelDecoder]]) — REAL pixels with zero new codec
   * code, completing video to the image/audio standard. Corrupt or
   * non-AVI payloads degrade to None/empty, never crash.
   */
  object AviParser {
    private def u32(b: Array[Byte], i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    private def tag(b: Array[Byte], i: Int) = new String(b, i, 4, "US-ASCII")

    /** Walk chunks in [from, to); f(fourcc, listType-or-null,
      * payloadStart, payloadEnd). Chunks pad to even offsets. */
    private def walk(b: Array[Byte], from: Int, to: Int)(
        f: (String, String, Int, Int) => Unit): Boolean = {
      var p = from
      while (p + 8 <= to) {
        val typ = tag(b, p)
        val sz = u32(b, p + 4)
        val payload = p + 8
        if (sz < 0 || payload + sz > to) return false
        if (typ == "LIST" || typ == "RIFF") {
          if (sz < 4) return false
          f(typ, tag(b, payload), payload + 4, payload + sz.toInt)
        } else f(typ, null, payload, payload + sz.toInt)
        p = payload + sz.toInt + (sz.toInt & 1) // pad to even
      }
      true
    }

    def isAvi(b: Array[Byte]): Boolean =
      b != null && b.length >= 12 && tag(b, 0) == "RIFF" && tag(b, 8) == "AVI "

    def decode(b: Array[Byte]): Option[AviMeta] = {
      if (!isAvi(b)) return None
      var uspf = -1L; var total = -1; var streams = 0
      var width = 0; var height = 0; var handler: String = null
      val ok = walk(b, 12, b.length) { (typ, lt, s, e) =>
        if (typ == "LIST" && lt == "hdrl") {
          walk(b, s, e) { (t2, lt2, s2, e2) =>
            if (t2 == "avih" && e2 - s2 >= 40) {
              uspf = u32(b, s2)
              total = u32(b, s2 + 16).toInt
              streams = u32(b, s2 + 24).toInt
              width = u32(b, s2 + 32).toInt
              height = u32(b, s2 + 36).toInt
            } else if (t2 == "LIST" && lt2 == "strl" && handler == null) {
              walk(b, s2, e2) { (t3, _, s3, e3) =>
                if (t3 == "strh" && e3 - s3 >= 8 && tag(b, s3) == "vids")
                  handler = tag(b, s3 + 4)
              }
            }
          }
        }
      }
      if (!ok || uspf <= 0 || total < 0 || width <= 0 || height <= 0) None
      else Some(AviMeta(if (handler == null) "" else handler,
        uspf, total, streams, width, height))
    }

    /** The `movi` list's video frame payloads (`##dc` compressed /
      * `##db` uncompressed chunks), container order, up to
      * `maxFrames`. For MJPG each payload is a complete JPEG. */
    def frames(b: Array[Byte], maxFrames: Int): Vector[Array[Byte]] = {
      if (!isAvi(b)) return Vector.empty
      val out = Vector.newBuilder[Array[Byte]]
      var n = 0
      walk(b, 12, b.length) { (typ, lt, s, e) =>
        if (typ == "LIST" && lt == "movi") {
          walk(b, s, e) { (t2, _, s2, e2) =>
            if (n < maxFrames && t2.length == 4 &&
                t2(0).isDigit && t2(1).isDigit &&
                (t2.substring(2) == "dc" || t2.substring(2) == "db")) {
              out += java.util.Arrays.copyOfRange(b, s2, e2)
              n += 1
            }
          }
        }
      }
      out.result()
    }
  }

  /** Minimal AVI/MJPEG writer for fixtures and tests: RIFF(AVI) with
    * hdrl(avih + strl(strh 'vids'/'MJPG' + strf BITMAPINFOHEADER)) and
    * a movi list of one `00dc` JPEG chunk per frame. */
  def writeAviMjpeg(microSecPerFrame: Int, width: Int, height: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(microSecPerFrame > 0, "microSecPerFrame must be > 0")
    def chunk(typ: String, payload: Array[Byte]): Array[Byte] = {
      val pad = payload.length & 1
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(typ.getBytes("US-ASCII")).putInt(payload.length).put(payload)
      bb.array()
    }
    def list(lt: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", lt.getBytes("US-ASCII") ++ payload)
    val avih = chunk("avih", {
      val bb = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(microSecPerFrame).putInt(0).putInt(0).putInt(0)
      bb.putInt(frames.length).putInt(0).putInt(1).putInt(0)
      bb.putInt(width).putInt(height)
      bb.array()
    })
    val strh = chunk("strh", {
      val bb = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("vids".getBytes("US-ASCII")).put("MJPG".getBytes("US-ASCII"))
      bb.putInt(0).putInt(0).putInt(0)
      bb.putInt(microSecPerFrame).putInt(1000000) // dwScale/dwRate = fps
      bb.putInt(0).putInt(frames.length)
      bb.array()
    })
    val strf = chunk("strf", {
      val bb = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(40).putInt(width).putInt(height)
      bb.putShort(1).putShort(24)
      bb.put("MJPG".getBytes("US-ASCII")).putInt(width * height * 3)
      bb.array()
    })
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi", frames.toArray.flatMap(f => chunk("00dc", f)))
    chunk("RIFF", "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi)
  }

  val aviMetaSchema: StructType = StructType(Seq(
    StructField("handler", StringType, nullable = false),
    StructField("fps_millis", LongType, nullable = false),
    StructField("total_frames", IntegerType, nullable = false),
    StructField("n_streams", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Typed AVI metadata per payload (fps reported as milli-fps for an
    * exact integer column); null for non-AVI payloads. Scan-side. */
  def withAviMeta(df: DataFrame, binCol: String, outCol: String): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    Kernel(df, Seq(StructField(outCol, aviMetaSchema))) { () =>
      _.iterator.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val decoded =
          if (bytes == null) None
          else scala.util.Try(AviParser.decode(bytes)).toOption.flatten
        decoded.map(m => Row(m.handler, math.round(m.fps * 1000), m.totalFrames,
          m.nStreams, m.width, m.height)).orNull
      }
    }
  }

  /**
   * REAL frame pixels from an AVI/MJPEG payload: one row per sampled
   * frame, each `##dc` JPEG chunk decoded through the SAME
   * [[Multimodal.PixelDecoder]] path as still images — (id, frame_no,
   * width, height, channels, pixels). `every` keeps each every-th
   * frame (stride sampling); non-AVI/corrupt payloads or undecodable
   * frames yield no rows. The [[Multimodal.sampleFrames]] byte-stride
   * stub remains only for containers with no JVM-decodable codec
   * (H.264/AV1 MP4). mapPartitions over the scan, one plan, no
   * shuffle at any corpus size.
   */
  def aviFramePixels(
      df: DataFrame, idCol: String, binCol: String,
      maxFrames: Int = 64, every: Int = 1): DataFrame = {
    require(maxFrames >= 1 && every >= 1, "maxFrames and every must be >= 1")
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("pixels", BinaryType, nullable = false)))
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    graft.Spread(df).mapPartitions { it => // typed, single-plan — one row per frame
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val id = r.get(idIdx)
        Option(bytes).map(bs =>
            scala.util.Try(AviParser.frames(bs, maxFrames)).getOrElse(Vector.empty))
          .getOrElse(Vector.empty)
          .zipWithIndex
          .collect { case (f, i) if i % every == 0 => (f, i) }
          .iterator
          .flatMap { case (f, i) =>
            scala.util.Try(Multimodal.PixelDecoder.decode(f)).toOption.flatten.map {
              case (w, h, ch, px) => Row(id, i, w, h, ch, px)
            }
          }
      }
    }(Encoders.row(outSchema))
  }

  /** Typed MP4 container metadata per payload; null for anything the
    * parser rejects. One scan-side [[graft.Kernel]] pass. */
  def withMp4Meta(df: DataFrame, binCol: String, outCol: String): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    Kernel(df, Seq(StructField(outCol, metaSchema))) { () =>
      _.iterator.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val decoded =
          if (bytes == null) None
          else scala.util.Try(Mp4Parser.decode(bytes)).toOption.flatten
        decoded.map(m => Row(m.brand, m.durationMs, m.nTracks, m.width, m.height)).orNull
      }
    }
  }
}
