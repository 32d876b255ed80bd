package graft.operators

import graft.Kernel
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: media (image/audio/video) travels as an
 * opaque `binary` column with typed metadata extracted beside it.
 *
 * The Spark-side machinery — schema, per-partition batched iteration,
 * column append — is real and tested. Metadata decode is REAL for the
 * four dominant raster formats ([[HeaderDecoder]]: PNG/JPEG/GIF/BMP
 * header parsing, codec-free); payloads with no recognized header get
 * deterministic length-derived stand-in metadata ([[FakeDecoder]]).
 * Pixel decode + resize is REAL for every supported format
 * ([[PixelDecoder]]): PNG (zlib inflate + scanline unfilter, pure
 * JVM), GIF (variable-width LZW + palette expansion + de-interlace),
 * BMP and PGM/PPM (byte layout), and JPEG (the JDK's own
 * `javax.imageio` reader — platform code, no external codec).
 * [[FakeDecoder]]/[[Multimodal.resizeStub]] remain only for payloads
 * with no recognized header.
 */
object Multimodal {

  val metaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /**
   * REAL image-header decoder: container metadata (format, dimensions,
   * channels) parsed straight from the byte headers of the four
   * dominant raster formats — no codec library needed, this is pure
   * public file-format layout (what the `imagesize`-class tools do):
   *
   *  - PNG: 8-byte signature, then IHDR — width/height big-endian u32
   *    at offsets 16/20, color type at 25 → channel count;
   *  - JPEG: FF D8, then marker walk to the first SOFn (C0-CF minus
   *    C4/C8/CC) — height/width big-endian u16 after precision,
   *    component count = channels;
   *  - GIF: "GIF87a"/"GIF89a" — logical-screen width/height
   *    little-endian u16 at 6/8, palette RGB → 3 channels;
   *  - BMP: "BM" — DIB width/|height| little-endian i32 at 18/22,
   *    bits-per-pixel at 28 → channels.
   *
   * Returns None for anything else (truncated or unknown payloads).
   */
  object HeaderDecoder {
    def decode(b: Array[Byte]): Option[(Int, Int, Int, String)] = {
      def u8(i: Int) = b(i) & 0xff
      def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
      def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
      if (b.length >= 26 && be32(0) == 0x89504e47 && be32(4) == 0x0d0a1a0a &&
          new String(b, 12, 4, "US-ASCII") == "IHDR") {
        val channels = u8(25) match {
          case 0 => 1 case 2 => 3 case 3 => 1 case 4 => 2 case 6 => 4 case _ => 3
        }
        Some((be32(16), be32(20), channels, "png"))
      } else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
        // marker walk: FF marker, u16 length (includes itself).
        // JPEG permits any number of 0xFF fill bytes before a marker
        // (ITU T.81 §B.1.1.2) — consume them; stop at SOS/EOI (image
        // data follows SOS unframed, so no SOFn can legally appear
        // after either); TEM/RSTn/SOI are standalone (no length word).
        var i = 2
        while (i + 1 < b.length) {
          if (u8(i) != 0xff) return None // desynced — not a JPEG stream
          while (i + 1 < b.length && u8(i + 1) == 0xff) i += 1 // fill bytes
          if (i + 1 >= b.length) return None
          val m = u8(i + 1)
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
            return if (i + 9 < b.length)
              Some((be16(i + 7), be16(i + 5), u8(i + 9), "jpeg"))
            else None // truncated SOFn
          else if (m == 0xd9 || m == 0xda) return None // EOI / SOS
          else if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) i += 2 // TEM/RSTn/SOI
          else if (i + 3 < b.length) i += 2 + be16(i + 2)
          else return None // truncated length word
        }
        None
      } else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
          b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
        Some((le16(6), le16(8), 3, "gif"))
      } else if (b.length >= 30 && b(0) == 'B' && b(1) == 'M') {
        val bpp = le16(28)
        Some((le32(18), math.abs(le32(22)), math.max(1, bpp / 8), "bmp"))
      } else None
    }
  }

  /** Deterministic stand-in metadata for payloads with NO recognized
    * image header (the synthetic corpus, corrupt bytes): derived from
    * byte length so pipelines over non-image binaries still exercise
    * the full schema. Real images never reach this branch. */
  object FakeDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, Int, String) = {
      val len = bytes.length.toLong
      val width = (32 + len % 600).toInt
      val height = (32 + (len * 7) % 600).toInt
      val format = (len % 3) match {
        case 0 => "jpeg"
        case 1 => "png"
        case _ => "webp"
      }
      (width, height, 3, format)
    }
  }

  /** Header parse first (real, codec-free); length-derived fallback
    * for unrecognized payloads. */
  def decodeMeta(bytes: Array[Byte]): (Int, Int, Int, String) =
    HeaderDecoder.decode(bytes).getOrElse(FakeDecoder.decode(bytes))

  /**
   * REAL pixel decoder for the uncompressed raster formats — pure JVM
   * byte-layout work, no codec library:
   *
   *  - PNG: 8-bit gray / gray+alpha / RGB / RGBA, sequential or
   *    Adam7-interlaced (7-pass de-interleave, per-pass scanline
   *    filtering) — zlib inflate of the IDAT stream
   *    ([[java.util.zip.Inflater]] IS the JVM's zlib, no codec library
   *    involved) + the five scanline filters of the PNG spec
   *    (None/Sub/Up/Average/Paeth, RFC 2083 §6); palette / 16-bit
   *    payloads return None;
   *  - GIF: 87a/89a first frame — variable-width LZW (the GIF flavor:
   *    per-spec CLEAR/END codes, 12-bit dictionary cap, deferred
   *    clear), global or local palette lookup to RGB, Adam-style
   *    4-pass de-interlace;
   *  - BMP: BI_RGB 24/32bpp, bottom-up or top-down, 4-byte row
   *    padding, BGR(A) -> RGB(A) reorder;
   *  - PGM/PPM: binary "P5"/"P6", maxval <= 255, '#' comments;
   *  - JPEG: delegated to the JDK's own `javax.imageio` reader (part
   *    of the java.desktop platform module, not an external library) —
   *    Huffman/progressive/chroma-subsampled variants all decode;
   *    grayscale stays 1 channel, everything else lands as RGB.
   *
   * Returns (width, height, channels, row-major interleaved RGB(A)/
   * gray bytes, top-down). Undecodable payloads return None —
   * [[FakeDecoder]] remains the clearly-labeled stand-in for
   * unrecognized formats only.
   */
  object PixelDecoder {
    def decode(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
      def u8(i: Int) = b(i) & 0xff
      def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
      if (b.length >= 33 && be32(0) == 0x89504e47 && be32(4) == 0x0d0a1a0a) {
        // ---- PNG: chunk walk (all fields UNTRUSTED — Long bounds) ----
        var i = 8
        var w = -1; var h = -1; var depth = -1; var ct = -1; var interlace = 0
        var seenIhdr = false; var seenIend = false
        val idat = new java.io.ByteArrayOutputStream()
        while (i + 8 <= b.length && !seenIend) {
          val len = be32(i) // signed parse of an attacker-controlled u32
          if (len < 0 || i + 12L + len > b.length) return None
          val typ = new String(b, i + 4, 4, "US-ASCII")
          typ match {
            case "IHDR" =>
              if (len < 13) return None
              w = be32(i + 8); h = be32(i + 12)
              depth = u8(i + 16); ct = u8(i + 17)
              // compression/filter methods are fixed at 0 by the spec;
              // interlace: 0 = sequential, 1 = Adam7 (7-pass, below)
              interlace = u8(i + 20)
              if (u8(i + 18) != 0 || u8(i + 19) != 0 || interlace > 1) return None
              seenIhdr = true
            case "IDAT" => idat.write(b, i + 8, len)
            case "IEND" => seenIend = true
            case _ => () // ancillary chunks (tEXt, gAMA, ...) skipped
          }
          i += 12 + len
        }
        val maxDim = 1 << 16
        if (!seenIhdr || w <= 0 || h <= 0 || w > maxDim || h > maxDim) return None
        if (depth != 8) return None // 16-bit / sub-byte depths out of scope
        val c = ct match {
          case 0 => 1 case 2 => 3 case 4 => 2 case 6 => 4
          case _ => return None // 3 = palette (needs PLTE handling)
        }
        val rowBytes = w * c // <= (1<<16) * 4, no overflow
        // Adam7 pass grid (RFC 2083 §2.6): (xStart, yStart, xStep, yStep);
        // sequential mode is the single full-frame "pass"
        val passes: Seq[(Int, Int, Int, Int)] =
          if (interlace == 0) Seq((0, 0, 1, 1))
          else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
        // each pass is an independent sub-image: its own scanline raster
        // (1 filter byte + passW*c per row); EMPTY passes contribute
        // nothing, not even filter bytes
        def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
          val (x0, y0, dx, dy) = p
          (if (w > x0) (w - x0 + dx - 1) / dx else 0,
            if (h > y0) (h - y0 + dy - 1) / dy else 0)
        }
        val totalL = passes.map { p =>
          val (pw, ph) = passDims(p)
          if (pw > 0 && ph > 0) ph * (1L + pw.toLong * c) else 0L
        }.sum
        if (totalL <= 0 || totalL > Int.MaxValue - 8) return None
        val raw = new Array[Byte](totalL.toInt)
        val inf = new java.util.zip.Inflater()
        inf.setInput(idat.toByteArray)
        try {
          var off = 0
          while (off < raw.length && !inf.finished()) {
            val n = inf.inflate(raw, off, raw.length - off)
            if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
              return None // truncated / preset-dictionary stream
            off += n
          }
          if (off < raw.length) return None // short inflate
        } catch {
          case _: java.util.zip.DataFormatException => return None
        } finally inf.end()
        // ---- unfilter (RFC 2083 §6): predictors read the RECONSTRUCTED
        // left/up/up-left bytes of the SAME pass's sub-image ----
        def unfilter(off: Int, rows: Int, rowB: Int): Option[Array[Byte]] = {
          val out = new Array[Byte](rowB * rows)
          var y = 0
          while (y < rows) {
            val f = raw(off + y * (rowB + 1)) & 0xff
            if (f > 4) return None
            val src = off + y * (rowB + 1) + 1
            val dst = y * rowB
            var x = 0
            while (x < rowB) {
              val rv = raw(src + x) & 0xff
              val left = if (x >= c) out(dst + x - c) & 0xff else 0
              val up = if (y > 0) out(dst - rowB + x) & 0xff else 0
              val ul = if (y > 0 && x >= c) out(dst - rowB + x - c) & 0xff else 0
              val v = f match {
                case 0 => rv
                case 1 => rv + left
                case 2 => rv + up
                case 3 => rv + ((left + up) >> 1)
                case 4 =>
                  val p = left + up - ul
                  val pa = math.abs(p - left)
                  val pb = math.abs(p - up)
                  val pc = math.abs(p - ul)
                  rv + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
              }
              out(dst + x) = v.toByte // mod-256 per spec
              x += 1
            }
            y += 1
          }
          Some(out)
        }
        if (interlace == 0) {
          unfilter(0, h, rowBytes).map((w, h, c, _))
        } else {
          // de-interleave: unfilter each pass, scatter its pixels onto
          // the full-frame grid at (x0 + px*dx, y0 + py*dy)
          val out = new Array[Byte](rowBytes * h)
          var off = 0
          for (p @ (x0, y0, dx, dy) <- passes) {
            val (pw, ph) = passDims(p)
            if (pw > 0 && ph > 0) {
              val sub = unfilter(off, ph, pw * c).getOrElse(return None)
              var py = 0
              while (py < ph) {
                var px = 0
                while (px < pw) {
                  val dst = (y0 + py * dy) * rowBytes + (x0 + px * dx) * c
                  System.arraycopy(sub, (py * pw + px) * c, out, dst, c)
                  px += 1
                }
                py += 1
              }
              off += ph * (1 + pw * c)
            }
          }
          Some((w, h, c, out))
        }
      } else if (b.length >= 13 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
          b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
        // ---- GIF: first composited frame via the multi-frame walker ----
        gifFrames(b, maxFrames = 1) match {
          case Some((sw, sh, frames)) if frames.nonEmpty =>
            Some((sw, sh, 3, frames.head.canvas))
          case _ => None
        }
      } else if (b.length >= 3 && u8(0) == 0xff && u8(1) == 0xd8 && u8(2) == 0xff) {
        // ---- JPEG: the JDK's own ImageIO reader (java.desktop module,
        // platform code, not an external codec dependency). Pre-guard
        // dimensions from the SOF header (HeaderDecoder's marker walk)
        // so a crafted 65535x65535 header is rejected BEFORE ImageIO
        // allocates rasters for it.
        val okDims = HeaderDecoder.decode(b) match {
          case Some((w, h, _, _)) =>
            w > 0 && h > 0 && w <= (1 << 14) && h <= (1 << 14) &&
              w.toLong * h * 3 <= Int.MaxValue - 8
          case None => false
        }
        if (!okDims) None
        else try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
          if (img == null) None
          else {
            val w = img.getWidth
            val h = img.getHeight
            if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
              val out = new Array[Byte](w * h)
              img.getRaster.getDataElements(0, 0, w, h, out)
              Some((w, h, 1, out))
            } else {
              val argb = img.getRGB(0, 0, w, h, null, 0, w)
              val out = new Array[Byte](w * h * 3)
              var i = 0
              while (i < argb.length) {
                val v = argb(i)
                out(i * 3) = (v >> 16).toByte
                out(i * 3 + 1) = (v >> 8).toByte
                out(i * 3 + 2) = v.toByte
                i += 1
              }
              Some((w, h, 3, out))
            }
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      } else if (b.length >= 54 && b(0) == 'B' && b(1) == 'M') {
        // Header fields are UNTRUSTED: le32 is signed, so dataOff can be
        // negative; w/h near Int.MaxValue overflow w*c / w*h*c. Validate
        // with Long arithmetic and cap dims before any allocation.
        val dataOff = le32(10)
        val w = le32(18)
        val hRaw = le32(22)
        val h = if (hRaw == Int.MinValue) -1 else math.abs(hRaw) // abs(MinValue) stays negative
        val topDown = hRaw < 0
        val bpp = le16(28)
        val compression = le32(30)
        val maxDim = 1 << 16 // 65536px per side: generous for real images, overflow-proof
        if (compression != 0 || (bpp != 24 && bpp != 32) ||
          w <= 0 || h <= 0 || w > maxDim || h > maxDim || dataOff < 54) return None
        val c = bpp / 8
        val rowBytesL = ((w.toLong * c + 3) / 4) * 4
        if (dataOff.toLong + rowBytesL * h > b.length) return None // truncated
        if (w.toLong * h * c > Int.MaxValue - 8) return None // output would not fit a JVM array
        val rowBytes = rowBytesL.toInt
        val out = new Array[Byte](w * h * c)
        var y = 0
        while (y < h) {
          val srcRow = if (topDown) y else h - 1 - y // emit top-down
          var x = 0
          while (x < w) {
            val s = dataOff + srcRow * rowBytes + x * c
            val d = (y * w + x) * c
            out(d) = b(s + 2) // R (BMP stores BGR)
            out(d + 1) = b(s + 1) // G
            out(d + 2) = b(s) // B
            if (c == 4) out(d + 3) = b(s + 3) // A
            x += 1
          }
          y += 1
        }
        Some((w, h, c, out))
      } else if (b.length >= 2 && b(0) == 'P' && (b(1) == '5' || b(1) == '6')) {
        val c = if (b(1) == '6') 3 else 1
        // header: 3 whitespace-separated ints after the magic; '#'
        // starts a comment running to end of line (Netpbm spec)
        var i = 2
        val vals = new Array[Int](3)
        var v = 0
        while (v < 3 && i < b.length) {
          while (i < b.length && (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) i += 1
          if (i < b.length && b(i) == '#') {
            while (i < b.length && b(i) != '\n') i += 1
          } else {
            var n = 0L // Long: a crafted run of digits must not wrap Int
            var any = false
            while (i < b.length && b(i) >= '0' && b(i) <= '9') {
              n = math.min(n * 10 + (b(i) - '0'), 1L << 20); i += 1; any = true
            }
            if (!any) return None // malformed header
            vals(v) = n.toInt
            v += 1
          }
        }
        if (v < 3 || i >= b.length) return None
        i += 1 // single whitespace after maxval, then raster
        val (w, h, maxval) = (vals(0), vals(1), vals(2))
        if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255) return None
        if (i.toLong + w.toLong * h * c > b.length) return None // truncated
        Some((w, h, c, java.util.Arrays.copyOfRange(b, i, i + w * h * c)))
      } else None
    }

    /** One decoded GIF frame: rect geometry, its disposal method, the
      * raw palette-expanded rect as RGBA (alpha 0 at transparent
      * pixels — the per-frame output a platform reader hands back,
      * pinned against `javax.imageio` in HeaderDecoderSpec), and the
      * full-screen RGB canvas COMPOSITED up to and including this
      * frame (what a viewer displays — the useful frame-sampling
      * output for crawl-data GIFs). */
    final case class GifFrame(left: Int, top: Int, width: Int, height: Int,
        disposal: Int, rgba: Array[Byte], canvas: Array[Byte])

    /**
     * Multi-frame GIF decode with disposal-method compositing — frame
     * N's pixels are reachable, not just the first frame's. The canvas
     * starts as the background color (screen descriptor's bg index
     * into the global palette; zeros without one); each frame draws
     * its non-transparent pixels at its (left, top) offset, then
     * disposes per its Graphic Control Extension before the next
     * frame: 0/1 leave the canvas, 2 restores the frame RECT to the
     * background, 3 restores the pre-draw canvas. Transparency is the
     * GCE transparent index (those pixels leave the canvas unchanged —
     * the mechanism that makes delta frames work). Stops after
     * `maxFrames`; returns None on any malformed stream, mirroring the
     * single-frame contract (decode() is exactly `maxFrames = 1`).
     */
    private[operators] def gifFrames(
        b: Array[Byte], maxFrames: Int): Option[(Int, Int, IndexedSeq[GifFrame])] = {
      require(maxFrames >= 1, "maxFrames must be >= 1")
      def u8(i: Int) = b(i) & 0xff
      def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
      if (b.length < 14) return None
      val hdr = new String(b, 0, 6, "US-ASCII")
      if (hdr != "GIF87a" && hdr != "GIF89a") return None
      val maxDim = 1 << 16
      val sw = le16(6)
      val sh = le16(8)
      if (sw <= 0 || sh <= 0 || sw > maxDim || sh > maxDim) return None
      if (sw.toLong * sh * 3 > Int.MaxValue - 8) return None
      var i = 13
      var globalPal: Array[Byte] = null
      val screenPacked = u8(10)
      if ((screenPacked & 0x80) != 0) { // global color table
        val sz = 3 * (1 << ((screenPacked & 7) + 1))
        if (13 + sz > b.length) return None
        globalPal = java.util.Arrays.copyOfRange(b, 13, 13 + sz)
        i = 13 + sz
      }
      val canvas = new Array[Byte](sw * sh * 3)
      // background fill (only with a valid global-palette bg index —
      // otherwise the canvas stays zero, the single-frame behavior)
      val bgRgb = new Array[Byte](3)
      if (globalPal != null && u8(11) * 3 + 2 < globalPal.length) {
        val bg = u8(11) * 3
        bgRgb(0) = globalPal(bg); bgRgb(1) = globalPal(bg + 1); bgRgb(2) = globalPal(bg + 2)
        var p = 0
        while (p < sw * sh) {
          canvas(p * 3) = bgRgb(0); canvas(p * 3 + 1) = bgRgb(1); canvas(p * 3 + 2) = bgRgb(2)
          p += 1
        }
      }
      var pendingDisposal = 0
      var pendingTrans = -1
      val frames = IndexedSeq.newBuilder[GifFrame]
      var count = 0
      def done(): Option[(Int, Int, IndexedSeq[GifFrame])] = {
        val fs = frames.result()
        if (fs.isEmpty) None else Some((sw, sh, fs))
      }
      while (i < b.length) {
        u8(i) match {
          case 0x21 => // extension: capture the GCE, skip the rest
            if (i + 1 >= b.length) return None
            if (u8(i + 1) == 0xf9 && i + 7 < b.length && u8(i + 2) == 4) {
              val packed = u8(i + 3)
              pendingDisposal = (packed >> 2) & 7
              pendingTrans = if ((packed & 1) != 0) u8(i + 6) else -1
            }
            i += 2
            while (i < b.length && u8(i) != 0) i += 1 + u8(i)
            if (i >= b.length) return None
            i += 1 // block terminator
          case 0x3b => return done() // trailer
          case 0x2c => // image descriptor
            if (i + 10 > b.length) return None
            val left = le16(i + 1)
            val top = le16(i + 3)
            val w = le16(i + 5)
            val h = le16(i + 7)
            val ip = u8(i + 9)
            val interlaced = (ip & 0x40) != 0
            var j = i + 10
            var pal = globalPal
            if ((ip & 0x80) != 0) { // local color table wins
              val sz = 3 * (1 << ((ip & 7) + 1))
              if (j + sz > b.length) return None
              pal = java.util.Arrays.copyOfRange(b, j, j + sz)
              j += sz
            }
            if (pal == null || w <= 0 || h <= 0 || w > maxDim || h > maxDim) return None
            if (left + w > sw || top + h > sh) return None // frame off-screen
            if (j >= b.length) return None
            val minCode = u8(j)
            j += 1
            if (minCode < 2 || minCode > 8) return None // spec range
            val data = new java.io.ByteArrayOutputStream()
            while (j < b.length && u8(j) != 0) { // data sub-blocks
              val n = u8(j)
              if (j + 1 + n > b.length) return None
              data.write(b, j + 1, n)
              j += 1 + n
            }
            if (j >= b.length) return None // missing terminator
            val idx = gifLzw(data.toByteArray, minCode, w * h) match {
              case Some(a) => a
              case None => return None
            }
            // interlaced frames store rows in 4 passes (8/8, 8/8+4,
            // 4/4+2, 2/2+1) — map stored row -> display row
            val rowOrder: Array[Int] =
              if (interlaced) {
                val ord = new Array[Int](h)
                var r = 0
                for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
                     y <- start until h by step) { ord(r) = y; r += 1 }
                ord
              } else Array.tabulate(h)(identity)
            val snapshot = if (pendingDisposal == 3) canvas.clone() else null
            val rgba = new Array[Byte](w * h * 4)
            var sr = 0
            while (sr < h) {
              val dy = rowOrder(sr)
              val y = top + dy
              var x = 0
              while (x < w) {
                val pi = idx(sr * w + x) & 0xff
                val p = pi * 3
                if (p + 2 >= pal.length) return None // index past palette
                if (pi != pendingTrans) {
                  val rd = (dy * w + x) * 4
                  rgba(rd) = pal(p); rgba(rd + 1) = pal(p + 1)
                  rgba(rd + 2) = pal(p + 2); rgba(rd + 3) = -1 // alpha 255
                  val d = (y * sw + left + x) * 3
                  canvas(d) = pal(p); canvas(d + 1) = pal(p + 1); canvas(d + 2) = pal(p + 2)
                }
                x += 1
              }
              sr += 1
            }
            frames += GifFrame(left, top, w, h, pendingDisposal, rgba, canvas.clone())
            count += 1
            if (count >= maxFrames) return done()
            pendingDisposal match {
              case 2 => // restore the frame rect to background
                var y = top
                while (y < top + h) {
                  var x = left
                  while (x < left + w) {
                    val d = (y * sw + x) * 3
                    canvas(d) = bgRgb(0); canvas(d + 1) = bgRgb(1); canvas(d + 2) = bgRgb(2)
                    x += 1
                  }
                  y += 1
                }
              case 3 => System.arraycopy(snapshot, 0, canvas, 0, canvas.length)
              case _ => // 0/1: leave the canvas
            }
            pendingDisposal = 0
            pendingTrans = -1
            i = j + 1 // past the data terminator
          case _ => return None // desynced block stream
        }
      }
      // truncated after a complete frame but before the trailer: keep
      // what decoded (the single-frame path's effective leniency)
      done()
    }

    /**
     * GIF-flavor LZW decode (the spec's Appendix F variant): literal
     * codes 0..2^min-1, CLEAR = 2^min, END = CLEAR+1, dictionary
     * entries from CLEAR+2 capped at 4096, code width starts min+1 and
     * grows when the dictionary reaches 2^width (never past 12 —
     * "deferred clear": a full dictionary keeps emitting 12-bit codes
     * until the encoder sends CLEAR). Codes are packed LSB-first.
     * Returns exactly `maxPixels` decoded indices, or None on any
     * malformed/truncated stream.
     */
    private[operators] def gifLzw(
        data: Array[Byte], minCode: Int, maxPixels: Int): Option[Array[Byte]] = {
      val clear = 1 << minCode
      val end = clear + 1
      val out = new Array[Byte](maxPixels)
      var outLen = 0
      val prefix = new Array[Int](4096)
      val suffix = new Array[Byte](4096)
      val stack = new Array[Byte](4097)
      var dictSize = clear + 2
      var width = minCode + 1
      var prev = -1
      var bitPos = 0
      val totalBits = data.length * 8
      def readCode(): Int = {
        if (bitPos + width > totalBits) return -1
        var v = 0
        var k = 0
        while (k < width) {
          val p = bitPos + k
          if (((data(p >> 3) >> (p & 7)) & 1) != 0) v |= 1 << k
          k += 1
        }
        bitPos += width
        v
      }
      /** Push entry `code`'s byte sequence onto the stack (reversed);
        * returns stack top (sequence length) or -1 on a corrupt chain. */
      def expand(code: Int): Int = {
        var c = code
        var top = 0
        while (c >= clear + 2) {
          if (top >= stack.length || c >= dictSize) return -1
          stack(top) = suffix(c); top += 1
          c = prefix(c)
        }
        if (c >= clear) return -1 // chain must end in a literal
        stack(top) = c.toByte
        top + 1
      }
      var done = false
      while (!done && outLen < maxPixels) {
        val code = readCode()
        if (code < 0) return None // truncated mid-image
        else if (code == clear) {
          dictSize = clear + 2; width = minCode + 1; prev = -1
        } else if (code == end) {
          done = true
        } else if (prev == -1) {
          if (code >= clear) return None // first code must be a literal
          out(outLen) = code.toByte; outLen += 1
          prev = code
        } else {
          val known = code < dictSize && code != clear && code != end
          // the classic KwKwK case: `code == dictSize` references the
          // entry being built — its sequence is expand(prev) + first
          // byte of expand(prev)
          if (!known && code != dictSize) return None
          val top = expand(if (known) code else prev)
          if (top < 0) return None
          val first = stack(top - 1)
          if (outLen + top + (if (known) 0 else 1) > maxPixels) return None
          var t = top - 1
          while (t >= 0) { out(outLen) = stack(t); outLen += 1; t -= 1 }
          if (!known) { out(outLen) = first; outLen += 1 }
          if (dictSize < 4096) {
            prefix(dictSize) = prev
            suffix(dictSize) = first
            dictSize += 1
            if (dictSize == (1 << width) && width < 12) width += 1
          }
          prev = code
        }
      }
      if (outLen == maxPixels) Some(out) else None
    }

    /** Nearest-neighbor resize of row-major interleaved pixels. */
    def resize(px: Array[Byte], w: Int, h: Int, c: Int, tw: Int, th: Int): Array[Byte] = {
      require(tw >= 1 && th >= 1, "target dims must be >= 1")
      val out = new Array[Byte](tw * th * c)
      var y = 0
      while (y < th) {
        val sy = math.min(h - 1, y * h / th)
        var x = 0
        while (x < tw) {
          val sx = math.min(w - 1, x * w / tw)
          val s = (sy * w + sx) * c
          val d = (y * tw + x) * c
          var k = 0
          while (k < c) { out(d + k) = px(s + k); k += 1 }
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /**
   * Append a `metaCol: struct<width,height,channels,format>` decoded
   * from `binCol`. Runs through [[graft.Kernel]] over the row iterator
   * — streaming, no partition materialization, one logical plan.
   */
  def withDecodedMeta(df: DataFrame, binCol: String, metaCol: String): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    Kernel(df, Seq(StructField(metaCol, metaSchema))) { () =>
      _.iterator.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        if (bytes == null) null // null payload -> null meta
        else {
          val (w, h, c, f) = decodeMeta(bytes)
          Row(w, h, c, f)
        }
      }
    }
  }

  /**
   * REAL feature extraction (no codec needed): 256-bin byte histogram,
   * L1-normalized, as `array<float>` — a legitimate content signature
   * for opaque binaries (format detection, corruption triage, and
   * near-dup candidate generation via the embedding operators:
   * histogram vectors feed [[Similarity]] unchanged). One
   * [[graft.Kernel]] pass per payload.
   */
  def byteHistogramFeatures(df: DataFrame, binCol: String, outCol: String): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    Kernel(df, Seq(StructField(outCol, ArrayType(FloatType, containsNull = false)))) { () =>
      _.iterator.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        if (bytes == null || bytes.isEmpty) null
        else {
          val counts = new Array[Int](256)
          var i = 0
          while (i < bytes.length) { counts(bytes(i) & 0xff) += 1; i += 1 }
          val n = bytes.length.toFloat
          counts.map(_ / n).toSeq
        }
      }
    }
  }

  /**
   * REAL image resize for decodable payloads: [[PixelDecoder]] decodes
   * PNG/BMP/PGM/PPM, nearest-neighbor scales to (targetW, targetH), and
   * emits `struct<width,height,channels,pixels>` (top-down interleaved
   * RGB(A)/gray). Payloads the pure-JVM decoder cannot handle
   * (compressed formats) yield null — callers keep them via the
   * original column. One [[graft.Kernel]] pass, one plan.
   */
  def resizeImage(
      df: DataFrame, binCol: String, outCol: String,
      targetW: Int, targetH: Int): DataFrame = {
    require(targetW >= 1 && targetH >= 1, "target dims must be >= 1")
    val pixSchema = StructType(Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("pixels", BinaryType, nullable = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    Kernel(df, Seq(StructField(outCol, pixSchema))) { () =>
      _.iterator.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        // Try: one corrupt payload must degrade to null, not fail the job —
        // decode validates headers but defense-in-depth costs nothing here.
        Option(bytes)
          .flatMap(bs => scala.util.Try(PixelDecoder.decode(bs)).toOption.flatten)
          .map { case (w, h, c, px) =>
            Row(targetW, targetH, c, PixelDecoder.resize(px, w, h, c, targetW, targetH))
          }.orNull
      }
    }
  }

  /**
   * Resize STUB: deterministic byte subsampling to `targetBytes`
   * (every ceil(len/target)-th byte) standing in for an image resize —
   * the plumbing (binary in, smaller binary out, metadata updated) is
   * real; [[resizeImage]] is the REAL path for every format
   * [[PixelDecoder]] covers (PNG/GIF/BMP/PGM/PPM/JPEG); this stub
   * remains only for payloads with no recognized image header.
   */
  def resizeStub(df: DataFrame, binCol: String, outCol: String, targetBytes: Int): DataFrame = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    val binIdx = df.schema.fieldIndex(binCol)
    Kernel(df, Seq(StructField(outCol, BinaryType))) { () =>
      _.iterator.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        if (bytes == null || bytes.length <= targetBytes) bytes
        else {
          val stride = math.ceil(bytes.length.toDouble / targetBytes).toInt
          Array.range(0, bytes.length, stride).map(bytes(_))
        }
      }
    }
  }

  /**
   * Frame-sampling stub for "video" payloads: emits one row per sampled
   * frame offset (every `stride` bytes stands in for every Nth frame),
   * carrying (doc id, frame_no, frame_bytes). Exercises the explode /
   * one-to-many shape a real frame sampler produces.
   */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String, stride: Int): DataFrame =
    df.select(
      col(idCol),
      posexplode(
        transform(
          sequence(
            lit(0),
            greatest(floor((length(col(binCol)) - 1).cast("double") / stride).cast("int"), lit(0))),
          i => call_function("substring", col(binCol), i * lit(stride) + lit(1), lit(stride)))))
      .toDF(idCol, "frame_no", "frame_bytes")

  /**
   * REAL frame sampling for animated GIFs: one row per COMPOSITED
   * frame (disposal methods + transparency honored — what a viewer
   * displays at that frame, see [[PixelDecoder.gifFrames]]), emitting
   * (id, frame_no, width, height, channels=3, pixels). Non-GIF or
   * corrupt payloads yield NO rows — degrade, never crash. `every`
   * keeps each `every`-th composited frame (stride sampling — decode
   * walks all frames up to `maxFrames` because compositing needs every
   * delta, but only the sampled ones ship downstream). mapPartitions
   * over the row iterator, one plan, no shuffle.
   */
  def gifFramePixels(
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
        Option(bytes)
          .flatMap(bs => scala.util.Try(PixelDecoder.gifFrames(bs, maxFrames)).toOption.flatten)
          .toSeq.flatMap { case (sw, sh, frames) =>
            frames.zipWithIndex.collect {
              case (f, k) if k % every == 0 =>
                Row(id, k, sw, sh, 3, f.canvas)
            }
          }
      }
    }(Encoders.row(outSchema))
  }

  /** 64-bit DIFFERENCE HASH (dHash) of a grayscale pixel payload —
    * the perceptual image fingerprint for NEAR-DUP IMAGE detection
    * (the multimodal complement of SimHash): over the classic
    * `w x h = 9 x 8` layout, bit `r*(w-1)+c` is set iff
    * `px[r,c] > px[r,c+1]` (horizontal gradient sign), so the hash is
    * invariant to global brightness/contrast shifts and small pixel
    * perturbations flip few bits — exactly what a hamming-banded join
    * ([[Dedup.hammingPairs64]]) needs to bucket re-encoded or
    * slightly-edited copies WITHOUT all-pairs work. Scan-side UDF, no
    * shuffle; null/wrong-size payloads hash to null (decode-failure
    * rows survive, like every codec path here). */
  def dHash64(df: DataFrame, pixelsCol: String, outCol: String,
      w: Int = 9, h: Int = 8): DataFrame = {
    require((w - 1) * h == 64, s"dHash needs (w-1)*h == 64, got ${(w - 1) * h}")
    val f = udf { px: Array[Byte] =>
      if (px == null || px.length != w * h) null
      else {
        var fp = 0L
        var r = 0
        while (r < h) {
          var c = 0
          while (c < w - 1) {
            if ((px(r * w + c) & 0xff) > (px(r * w + c + 1) & 0xff))
              fp |= 1L << (r * (w - 1) + c)
            c += 1
          }
          r += 1
        }
        java.lang.Long.valueOf(fp)
      }
    }
    df.withColumn(outCol, f(col(pixelsCol)))
  }
}
