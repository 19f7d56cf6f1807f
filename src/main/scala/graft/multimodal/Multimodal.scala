package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns as opaque `binary` payloads
  * with typed metadata — the training-data-pipeline pattern where media
  * travels through Spark as bytes and codecs run partition-local.
  *
  * The decode step has TWO tiers. Uncompressed binary PGM (P5) decodes
  * FOR REAL ([[Pgm]]/[[PgmDecoder]]): header parse, raster extraction,
  * band-mean features and a perceptual [[Pgm.dHash]] over actual
  * pixels. Compressed formats stay STUBBED — this container has no
  * image/audio codec libraries — behind the same [[Decoder]] seam,
  * with [[FakeDecoder]] producing deterministic hash-derived
  * "features". Everything around the seam is real and tested: the
  * schema (binary + metadata struct), the partitioning (decode
  * parallelism is repartition on media_id, independent of upstream
  * layout), the batch shape (partition-local `mapPartitions` over typed
  * rows — the Scala analog of arrow-batched decode UDFs), and the
  * downstream feature plumbing (features are `array<float>`,
  * consumable by [[graft.ops.VectorOps]]).
  */
object Multimodal {

  /** Typed media metadata (media_type ∈ {image, audio, video}). */
  final case class MediaMeta(
      media_type: String,
      width: Int,
      height: Int,
      sample_rate: Int,
      n_frames: Int)

  final case class MediaRow(media_id: Long, meta: MediaMeta, payload: Array[Byte])

  final case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Int,
      checksum: Long,
      features: Array[Float])

  /** Deterministic synthetic media corpus derived from `documents`:
    * payload = utf-8 bytes of the text (an opaque stand-in for encoded
    * media), metadata derived from doc fields. Reproducible in DuckDB
    * (`encode(text)`), so metadata-level queries stay oracle-checkable. */
  def syntheticMedia(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        (pmod(col("doc_id"), lit(8)) * 160 + 320).cast("int").as("width"),
        (pmod(col("doc_id"), lit(8)) * 90 + 180).cast("int").as("height"),
        lit(16000).cast("int").as("sample_rate"),
        (floor(length(col("text")) / 10) + 1).cast("int").as("n_frames")).as("meta"),
      encode(col("text"), "utf-8").as("payload"))

  /** The codec boundary. A real implementation wraps an image/audio
    * library over the payload bytes; signature and batch shape are what
    * production code would use (one call per partition, streaming
    * iterator in/out — no per-row codec setup). */
  trait Decoder extends Serializable {
    def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures]
  }

  /** STUB decoder — deterministic fake. Features are a `dim`-wide float
    * vector derived from a rolling hash of the payload; checksum is a
    * 64-bit FNV-1a. Stands in for "decode + embed" with zero codec deps. */
  final case class FakeDecoder(dim: Int = 16) extends Decoder {
    override def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map { r =>
        var h = 0xcbf29ce484222325L // FNV-1a 64
        val acc = new Array[Long](dim)
        var i = 0
        while (i < r.payload.length) {
          h = (h ^ (r.payload(i) & 0xffL)) * 0x100000001b3L
          acc(i % dim) += (h & 0xffff)
          i += 1
        }
        val feats = new Array[Float](dim)
        var d = 0
        while (d < dim) {
          feats(d) = (acc(d) % 10000).toFloat / 10000f
          d += 1
        }
        MediaFeatures(r.media_id, r.meta.media_type, r.payload.length, h, feats)
      }
  }

  /** Binary PGM (P5) and PPM (P6) — the REAL media formats this engine
    * decodes end-to-end: uncompressed rasters with a ~3-token ASCII
    * header, so the full decode is dependency-free and the downstream
    * perceptual machinery (dHash gradients, feature bands) runs on
    * ACTUAL pixels instead of hash-derived fakes. P6's three-channel
    * raster converts to gray via the ITU-R 601 luma weights, proving
    * the decode seam generalizes past single-channel. PNG ([[Png]],
    * JDK zlib) and JPEG ([[Jpeg]], JDK ImageIO — r19) extend the tier
    * to compressed formats without third-party codecs; audio/video
    * codecs stay stubbed behind the same [[Decoder]] seam — this
    * container has no libraries for them — but the seam itself is
    * proven against true formats, not only the deterministic fake.
    *
    * HOSTILE-INPUT CONTRACT: decode returns None on anything
    * malformed — oversized/overflowing dimensions, short rasters,
    * truncated headers — never throws, so a corrupt payload in a
    * 100 TB corpus falls back to the stub tier instead of killing the
    * Spark task. */
  object Pgm {

    /** Dimensions above this are rejected as hostile (a legitimate
      * uncompressed raster this size would not travel as one payload
      * cell); also keeps `w*h*channels` far from Int overflow. */
    private val MaxDim = 1 << 20

    /** P5 payload for a `width`×`height` raster (row-major, maxval 255). */
    def encode(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
      require(pixels.length == width * height,
        s"raster is ${pixels.length} bytes, expected ${width * height}")
      val header = s"P5\n$width $height\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + pixels.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(pixels, 0, out, header.length, pixels.length)
      out
    }

    /** P6 payload for a `width`×`height` RGB raster (row-major
      * interleaved r,g,b — 3 bytes per pixel, maxval 255). */
    def encodeP6(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == 3 * width * height,
        s"rgb raster is ${rgb.length} bytes, expected ${3 * width * height}")
      val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + rgb.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(rgb, 0, out, header.length, rgb.length)
      out
    }

    /** Parse a binary PGM/PPM payload → (width, height, row-major GRAY
      * bytes): P5 rasters pass through; P6 rasters convert per-pixel by
      * the ITU-R 601 luma (299r + 587g + 114b) / 1000 — the standard
      * integer-exact grayscale reduction — so every downstream consumer
      * ([[dHash]], band features) sees one channel regardless of source
      * format. None when the payload is neither (magic mismatch, short
      * raster, maxval > 255) or malformed (dimension tokens past
      * [[MaxDim]] or Long range, truncated raster) — callers fall back
      * to the stub tier; this parser NEVER throws on hostile bytes.
      * Handles the format's whitespace/`#`-comment header grammar. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (payload.length < 7 || payload(0) != 'P') return None
      val channels = payload(1) match {
        case '5' => 1
        case '6' => 3
        case _ => return None
      }
      var i = 2
      def skipWs(): Unit = {
        var go = true
        while (go && i < payload.length) {
          val c = payload(i)
          if (c == '#') while (i < payload.length && payload(i) != '\n') i += 1
          else if (c == ' ' || c == '\t' || c == '\r' || c == '\n') i += 1
          else go = false
        }
      }
      // Long accumulation with a hard cap: a hostile digit run (e.g.
      // "99999999999999") must parse to None, not throw from toInt or
      // wrap into a small value that passes the raster-length guard
      def int(): Option[Int] = {
        skipWs()
        val s = i
        var v = 0L
        var overflow = false
        while (i < payload.length && payload(i) >= '0' && payload(i) <= '9') {
          v = v * 10 + (payload(i) - '0')
          if (v > MaxDim) overflow = true
          i += 1
        }
        if (i == s || overflow) None else Some(v.toInt)
      }
      for {
        w <- int(); h <- int(); maxval <- int()
        if w > 0 && h > 0 && maxval > 0 && maxval <= 255
        // exactly ONE whitespace byte separates maxval from the raster
        _ <- if (i < payload.length) Some(()) else None
        raster = { i += 1; payload.drop(i) }
        // Long arithmetic: w*h*channels can exceed Int range even with
        // both dims under MaxDim — an Int product could wrap small
        // (65536² → 0) and pass, sending dHash out of bounds later
        n = w.toLong * h * channels
        if n <= Int.MaxValue && raster.length >= n
      } yield {
        if (channels == 1) (w, h, raster.take(n.toInt))
        else {
          val gray = new Array[Byte]((n / 3).toInt)
          var p = 0
          while (p < gray.length) {
            val r = raster(3 * p) & 0xff
            val g = raster(3 * p + 1) & 0xff
            val b = raster(3 * p + 2) & 0xff
            gray(p) = ((299 * r + 587 * g + 114 * b) / 1000).toByte
            p += 1
          }
          (w, h, gray)
        }
      }
    }

    /** 64-bit perceptual difference hash over REAL pixels: the raster
      * downsamples (nearest-neighbor) to a 9×8 grid and bit y*8+x is
      * set when grid(x+1,y) > grid(x,y) — adjacent-column luminance
      * gradients, invariant under any monotone per-pixel brightness
      * map (offset, gain without clipping), which is exactly what the
      * byte-level [[graft.functions.TextExprs.FrameDHash]] approximates
      * on encoded bytes. Deterministic pure function. */
    def dHash(width: Int, height: Int, pixels: Array[Byte]): Long = {
      val gw = 9; val gh = 8
      val g = Array.ofDim[Int](gh, gw)
      var y = 0
      while (y < gh) {
        var x = 0
        while (x < gw) {
          val px = math.min(width - 1, x * width / gw)
          val py = math.min(height - 1, y * height / gh)
          g(y)(x) = pixels(py * width + px) & 0xff
          x += 1
        }
        y += 1
      }
      var h = 0L
      y = 0
      while (y < gh) {
        var x = 0
        while (x < gw - 1) {
          if (g(y)(x + 1) > g(y)(x)) h |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      h
    }
  }

  /** Uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB) — the THIRD
    * real media tier, proving the decode seam generalizes beyond the
    * netpbm family's ASCII headers: little-endian binary headers,
    * bottom-up row order (top-down via a negative height), 4-byte row
    * padding, BGR byte order — reduced through the SAME ITU-R 601 luma
    * into the gray raster [[Pgm.dHash]] and the band features consume.
    * Same hostile-input contract as [[Pgm.decode]]: anything malformed
    * (short header, unsupported depth/compression, overflowing
    * dimensions, raster shorter than stride×height, data offset outside
    * the payload) returns None — this parser NEVER throws, so a corrupt
    * payload falls back to the stub tier instead of killing the task. */
  object Bmp {
    private val MaxDim = 1 << 20

    private def le32(b: Array[Byte], i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

    /** 24-bit bottom-up BI_RGB BMP for a row-major TOP-DOWN rgb raster
      * (interleaved r,g,b — the [[Pgm.encodeP6]] layout): the
      * test/corpus encoder, writing the on-disk BGR order and row
      * padding decode must undo. */
    def encodeRgb(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == 3 * width * height,
        s"rgb raster is ${rgb.length} bytes, expected ${3 * width * height}")
      val stride = (width * 3 + 3) / 4 * 4
      val out = new Array[Byte](54 + stride * height)
      def put32(i: Int, v: Long): Unit = {
        out(i) = (v & 0xff).toByte; out(i + 1) = ((v >> 8) & 0xff).toByte
        out(i + 2) = ((v >> 16) & 0xff).toByte; out(i + 3) = ((v >> 24) & 0xff).toByte
      }
      out(0) = 'B'; out(1) = 'M'
      put32(2, out.length.toLong) // file size
      put32(10, 54L) // pixel data offset
      put32(14, 40L) // BITMAPINFOHEADER size
      put32(18, width.toLong)
      put32(22, height.toLong) // positive: bottom-up
      out(26) = 1 // planes = 1
      out(28) = 24 // bits per pixel
      // bytes 30-33: compression = 0 (BI_RGB) — already zero
      var y = 0
      while (y < height) {
        val src = height - 1 - y // storage row y holds image row height-1-y
        var x = 0
        while (x < width) {
          val s = 3 * (src * width + x)
          val o = 54 + y * stride + 3 * x
          out(o) = rgb(s + 2); out(o + 1) = rgb(s + 1); out(o + 2) = rgb(s) // BGR
          x += 1
        }
        y += 1
      }
      out
    }

    /** Parse a 24-bit BI_RGB BMP payload → (width, height, row-major
      * TOP-DOWN gray bytes), luma-reduced like [[Pgm.decode]]'s P6 arm.
      * None on anything else — never throws. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (payload.length < 54 || payload(0) != 'B' || payload(1) != 'M') return None
      val dataOffset = le32(payload, 10)
      if (le32(payload, 14) < 40) return None // pre-BITMAPINFOHEADER variants: unsupported
      val w = le32(payload, 18).toInt
      val hRaw = le32(payload, 22).toInt
      val topDown = hRaw < 0
      val h = math.abs(hRaw.toLong) // Long: abs(Int.MinValue) would overflow Int
      if (w <= 0 || w > MaxDim || h <= 0 || h > MaxDim) return None
      if (le16(payload, 26) != 1 || le16(payload, 28) != 24 ||
        le32(payload, 30) != 0L) return None // planes / depth / BI_RGB only
      val stride = (w.toLong * 3 + 3) / 4 * 4
      val n = w.toLong * h
      if (n > Int.MaxValue) return None
      if (dataOffset < 54 || dataOffset > payload.length ||
        payload.length - dataOffset < stride * h) return None
      val gray = new Array[Byte](n.toInt)
      val base = dataOffset.toInt
      var y = 0
      while (y < h.toInt) {
        val srcY = if (topDown) y else h.toInt - 1 - y
        val row = base + srcY * stride.toInt
        var x = 0
        while (x < w) {
          val b = payload(row + 3 * x) & 0xff
          val g = payload(row + 3 * x + 1) & 0xff
          val r = payload(row + 3 * x + 2) & 0xff
          gray(y * w + x) = ((299 * r + 587 * g + 114 * b) / 1000).toByte
          x += 1
        }
        y += 1
      }
      Some((w, h.toInt, gray))
    }
  }

  /** PNG (the fourth media tier — the first COMPRESSED one): IHDR +
    * zlib IDAT through `java.util.zip.Inflater` (JDK-only, no codec
    * deps), all five scanline filters (None/Sub/Up/Average/Paeth)
    * reconstructed per the public PNG specification, 8-bit gray /
    * truecolor / truecolor+alpha color types, luma-reduced through the
    * SAME ITU-R 601 integer path as [[Pgm]]/[[Bmp]] — one image in any
    * of the four containers shares its perceptual dHash. Adam7
    * interlacing, palettes, and sub-byte depths are rejected (None),
    * not mis-decoded.
    *
    * Same hostile-input contract as the other tiers — truncated IDAT,
    * bogus filter bytes, oversized/overflowing dimensions, chunk
    * lengths past the payload all return None, never throw (a corrupt
    * payload in a 100 TB corpus falls to the stub tier instead of
    * killing the task). Chunk CRCs are deliberately NOT validated:
    * decode is salvage-oriented, and every structural hazard a bad CRC
    * could hide is bounds-checked on its own. */
  object Png {
    private val MaxDim = 1 << 20
    /** Decompressed-raster budget: headers claiming more than this are
      * hostile (a zlib bomb would otherwise allocate unboundedly off a
      * few KB of payload). */
    private val MaxRawBytes = 1 << 28

    private val Sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)

    private def be32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

    /** 8-bit grayscale (color type 0) PNG for a row-major raster — the
      * test/corpus encoder (filter 0 rows, one IDAT). */
    def encodeGray(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] =
      encode(width, height, 0, 1, pixels)

    /** 8-bit truecolor (color type 2) PNG for an interleaved r,g,b
      * raster — the [[Pgm.encodeP6]]/[[Bmp.encodeRgb]] layout. */
    def encodeRgb(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] =
      encode(width, height, 2, 3, rgb)

    private def encode(w: Int, h: Int, colorType: Int, bpp: Int,
        raster: Array[Byte]): Array[Byte] = {
      require(raster.length == bpp * w * h,
        s"raster is ${raster.length} bytes, expected ${bpp * w * h}")
      val rowBytes = w * bpp
      val raw = new Array[Byte]((rowBytes + 1) * h) // filter byte 0 per row
      var y = 0
      while (y < h) {
        System.arraycopy(raster, y * rowBytes, raw, y * (rowBytes + 1) + 1, rowBytes)
        y += 1
      }
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(raw); deflater.finish()
      val zipped = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!deflater.finished())
        zipped.write(tmp, 0, deflater.deflate(tmp))
      deflater.end()
      val out = new java.io.ByteArrayOutputStream()
      out.write(Sig, 0, Sig.length)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        def w32(v: Long): Unit = {
          out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
          out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
        }
        w32(data.length.toLong)
        val tb = typ.getBytes("US-ASCII")
        out.write(tb, 0, 4); out.write(data, 0, data.length)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(data)
        w32(crc.getValue)
      }
      val ihdr = new Array[Byte](13)
      ihdr(0) = ((w >> 24) & 0xff).toByte; ihdr(1) = ((w >> 16) & 0xff).toByte
      ihdr(2) = ((w >> 8) & 0xff).toByte; ihdr(3) = (w & 0xff).toByte
      ihdr(4) = ((h >> 24) & 0xff).toByte; ihdr(5) = ((h >> 16) & 0xff).toByte
      ihdr(6) = ((h >> 8) & 0xff).toByte; ihdr(7) = (h & 0xff).toByte
      ihdr(8) = 8 // bit depth
      ihdr(9) = colorType.toByte
      // 10..12: compression 0, filter method 0, interlace 0
      chunk("IHDR", ihdr)
      chunk("IDAT", zipped.toByteArray)
      chunk("IEND", Array.empty)
      out.toByteArray
    }

    /** Parse an 8-bit gray/RGB/RGBA non-interlaced PNG → (width,
      * height, row-major gray bytes). None on anything else — never
      * throws. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (payload.length < Sig.length + 25) return None
      var s = 0
      while (s < Sig.length) {
        if (payload(s) != Sig(s)) return None
        s += 1
      }
      var i = Sig.length
      var w = 0; var h = 0; var colorType = -1
      val idat = new java.io.ByteArrayOutputStream()
      var sawEnd = false
      while (!sawEnd && i + 8 <= payload.length) {
        val len = be32(payload, i)
        // chunk bounds: length + type + data + crc must fit the payload
        if (len > Int.MaxValue - 12L || i + 8L + len + 4 > payload.length) return None
        val n = len.toInt
        val typ = new String(payload, i + 4, 4, "US-ASCII")
        typ match {
          case "IHDR" =>
            if (n != 13 || colorType != -1) return None // exactly one, first
            val wl = be32(payload, i + 8); val hl = be32(payload, i + 12)
            if (wl <= 0 || wl > MaxDim || hl <= 0 || hl > MaxDim) return None
            w = wl.toInt; h = hl.toInt
            val depth = payload(i + 16) & 0xff
            colorType = payload(i + 17) & 0xff
            // 8-bit gray (0) / RGB (2) / RGBA (6); zlib; filter method
            // 0; NO Adam7 — anything else is rejected, never mis-read
            if (depth != 8 || !Set(0, 2, 6).contains(colorType) ||
              payload(i + 18) != 0 || payload(i + 19) != 0 ||
              payload(i + 20) != 0) return None
          case "IDAT" =>
            if (colorType == -1) return None // IDAT before IHDR
            idat.write(payload, i + 8, n)
          case "IEND" => sawEnd = true
          case _ => () // ancillary chunks: skipped
        }
        i += 8 + n + 4
      }
      if (!sawEnd || colorType == -1 || idat.size() == 0) return None
      val bpp = colorType match { case 0 => 1; case 2 => 3; case _ => 4 }
      val rowBytes = w.toLong * bpp
      val total = (rowBytes + 1) * h
      if (w.toLong * h > Int.MaxValue || total > MaxRawBytes) return None
      val raw = new Array[Byte](total.toInt)
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      var off = 0
      try {
        while (off < total && !inf.finished()) {
          val got = inf.inflate(raw, off, total.toInt - off)
          if (got == 0 && (inf.needsInput() || inf.needsDictionary()))
            return None // truncated / preset-dictionary stream
          off += got
        }
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
      if (off < total) return None
      // unfilter in place, row by row (the PNG reconstruction filters;
      // `left`/`up` distances are one PIXEL = bpp bytes)
      val rb = rowBytes.toInt
      val cur = new Array[Byte](rb)
      val prev = new Array[Byte](rb) // zeros above row 0, per spec
      val pixels = new Array[Byte](rb * h)
      var y = 0
      while (y < h) {
        val base = y * (rb + 1)
        val filter = raw(base) & 0xff
        var x = 0
        while (x < rb) {
          val v = raw(base + 1 + x) & 0xff
          val a = if (x >= bpp) cur(x - bpp) & 0xff else 0 // left
          val b = prev(x) & 0xff // up
          val c = if (x >= bpp) prev(x - bpp) & 0xff else 0 // up-left
          val rec = filter match {
            case 0 => v
            case 1 => v + a
            case 2 => v + b
            case 3 => v + (a + b) / 2
            case 4 =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b)
              val pc = math.abs(p - c)
              v + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
            case _ => return None // bogus filter byte
          }
          cur(x) = (rec & 0xff).toByte
          x += 1
        }
        System.arraycopy(cur, 0, pixels, y * rb, rb)
        System.arraycopy(cur, 0, prev, 0, rb)
        y += 1
      }
      if (bpp == 1) return Some((w, h, pixels))
      val gray = new Array[Byte](w * h)
      var p = 0
      while (p < w * h) {
        val r = pixels(bpp * p) & 0xff
        val g = pixels(bpp * p + 1) & 0xff
        val b = pixels(bpp * p + 2) & 0xff // alpha (bpp 4) ignored
        gray(p) = ((299 * r + 587 * g + 114 * b) / 1000).toByte
        p += 1
      }
      Some((w, h, gray))
    }
  }

  /** JPEG (the fifth media tier — the first LOSSY one, and what real
    * multimodal corpora actually hold): decoded through the JDK's own
    * `javax.imageio` JPEG reader — still zero third-party codec deps —
    * and luma-reduced through the SAME ITU-R 601 integer path as every
    * other tier, so one image in any container shares its downstream
    * band-feature/dHash machinery.
    *
    * DETERMINISM CAVEAT (why this tier is spec-pinned, never oracled):
    * JPEG decode output is not bit-identical across JDK implementations
    * (IDCT rounding is implementation-defined), and the codec is lossy,
    * so unlike PGM/BMP/PNG a JPEG payload's exact pixels — and
    * therefore its dHash — are a property of the decoder, not the
    * payload. MultimodalSpec pins dHash STABILITY on planted smooth
    * fixtures (gradients survive the quantizer) and the hostile
    * battery; no oracle row depends on JPEG bytes.
    *
    * Same hostile-input contract as the other tiers: a payload without
    * the SOI magic is cheaply skipped, and anything ImageIO rejects or
    * chokes on (truncated entropy stream, bogus markers, OOM-bait
    * dimensions — the [[Pgm.MaxDim]]-style guard applies BEFORE the
    * full decode via the reader's header-only size probe) returns None,
    * never throws. */
  object Jpeg {

    private val MaxDim = 1 << 20

    /** JFIF/EXIF JPEG payload for a gray raster — the JDK encoder, used
      * by specs to plant fixtures (lossy: expect near, not equal,
      * pixels back). */
    def encodeGray(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
      require(pixels.length == width * height)
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, width, height, pixels)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }

    /** Parse a JPEG payload → (width, height, row-major GRAY bytes), or
      * None on anything that is not a well-formed JPEG this JDK can
      * decode. Never throws. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      // SOI magic gate: every JPEG stream starts FF D8 — skip the
      // (comparatively heavy) ImageIO machinery for everything else
      if (payload.length < 4 ||
        (payload(0) & 0xff) != 0xff || (payload(1) & 0xff) != 0xd8) return None
      try {
        val in = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(in)
          if (!readers.hasNext) return None
          val reader = readers.next()
          try {
            reader.setInput(in, true, true)
            // header-only size probe BEFORE allocating the raster:
            // hostile dimensions are rejected without decoding
            val (w, h) = (reader.getWidth(0), reader.getHeight(0))
            if (w <= 0 || w > MaxDim || h <= 0 || h > MaxDim ||
              w.toLong * h > Int.MaxValue) return None
            val img = reader.read(0)
            // RAW raster samples, not getRGB: a single-component JPEG
            // decodes to a gray raster whose samples ARE the luma —
            // getRGB would route them through the ColorModel's
            // linear-gray → sRGB gamma conversion and distort every
            // value (~±70 on mid-grays). Multi-band rasters are RGB
            // post-YCbCr and luma-reduce through the shared ITU-R 601
            // integer path.
            val raster = img.getRaster
            val bands = raster.getNumBands
            val gray = new Array[Byte](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                gray(y * w + x) =
                  if (bands == 1) raster.getSample(x, y, 0).toByte
                  else {
                    val r = raster.getSample(x, y, 0)
                    val g = raster.getSample(x, y, 1)
                    val b = raster.getSample(x, y, 2)
                    ((299 * r + 587 * g + 114 * b) / 1000).toByte
                  }
                x += 1
              }
              y += 1
            }
            Some((w, h, gray))
          } finally reader.dispose()
        } finally if (in != null) in.close()
      } catch { case _: Throwable => None } // hostile bytes: fall to the stub tier
    }
  }

  /** Real-format decoder tier: PGM (P5), PPM (P6, luma-reduced),
    * 24-bit BMP ([[Bmp]] — binary little-endian headers, the non-netpbm
    * shape), PNG ([[Png]] — zlib-compressed, filtered scanlines), and
    * JPEG ([[Jpeg]] — JDK ImageIO, lossy; spec-pinned, never oracled)
    * payloads decode to actual pixels and the features are `dim`
    * horizontal-band mean intensities in [0,1] (a real, explainable
    * image statistic); checksum is the perceptual [[Pgm.dHash]] so
    * downstream Hamming machinery can consume it directly. Payloads in
    * none of the formats — including corrupt/hostile rasters, which
    * [[Pgm.decode]]/[[Bmp.decode]] reject rather than throw on — fall
    * back to the [[FakeDecoder]] stub: one mixed corpus, each payload
    * decoded by the deepest tier that understands it, through the SAME
    * partition-batched seam. */
  final case class PgmDecoder(dim: Int = 16) extends Decoder {
    private val fallback = FakeDecoder(dim)
    override def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map { r =>
        Pgm.decode(r.payload).orElse(Bmp.decode(r.payload))
          .orElse(Png.decode(r.payload)).orElse(Jpeg.decode(r.payload)) match {
          case Some((w, h, px)) =>
            val acc = new Array[Long](dim)
            val cnt = new Array[Long](dim)
            var i = 0
            while (i < px.length) {
              val band = math.min(dim - 1, (i / w) * dim / h)
              acc(band) += px(i) & 0xff
              cnt(band) += 1
              i += 1
            }
            val feats = new Array[Float](dim)
            var d = 0
            while (d < dim) {
              feats(d) = if (cnt(d) == 0) 0f else acc(d).toFloat / (255f * cnt(d))
              d += 1
            }
            MediaFeatures(r.media_id, r.meta.media_type, r.payload.length,
              Pgm.dHash(w, h, px), feats)
          case None => fallback.decodeBatch(Iterator(r)).next()
        }
      }
  }

  /** Partition-batched decode: repartition for decode parallelism (codec
    * work is CPU-bound and unrelated to upstream layout), then one
    * decoder call per partition. */
  def extractFeatures(
      media: DataFrame,
      decoder: Decoder = FakeDecoder(),
      parallelism: Int = 0): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val typed = media.as[MediaRow]
    val partitioned =
      if (parallelism > 0) typed.repartition(parallelism, col("media_id"))
      else typed
    partitioned.mapPartitions(decoder.decodeBatch)
  }

  /** Resize through the stub codec boundary: the payload is re-sampled
    * to the byte budget of `targetW × targetH` (never upsampled), via
    * the nearest-neighbor gather `out(j) = payload(⌊j·n/m⌋)` — a REAL
    * pixel-resampling access pattern over fake "pixels"; a production
    * implementation swaps the gather loop for an image library inside
    * the same partition-batched typed map (no per-row codec setup, same
    * batch shape as [[extractFeatures]]). Metadata updates to the target
    * dims; deterministic and partition-invariant (MultimodalSpec), and
    * the gather math is integer-exact, so the DuckDB oracle replays it
    * on the ASCII corpus. */
  def resize(media: DataFrame, targetW: Int, targetH: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map { r =>
      val n = r.payload.length
      val budget = targetW.toLong * targetH
      val orig = r.meta.width.toLong * r.meta.height
      val m =
        if (n == 0) 0
        else if (budget >= orig) n // never upsample
        else math.max(1L, n * budget / orig).toInt
      val out = new Array[Byte](m.toInt)
      var j = 0
      while (j < m) {
        out(j) = r.payload(((j.toLong * n) / m).toInt)
        j += 1
      }
      MediaRow(r.media_id,
        r.meta.copy(width = targetW, height = targetH, n_frames = r.meta.n_frames),
        out)
    })
  }

  /** Frame sampling as pure column ops: every `stride`-th `frameSize`-byte
    * slice of the payload (binary substring — no codec needed for the
    * slicing plumbing), exploded to one row per sampled frame. */
  def sampleFrames(media: DataFrame, frameSize: Int = 64, stride: Int = 4): DataFrame = {
    val nFrames = floor(length(col("payload")) / frameSize).cast("int")
    media.select(
      col("media_id"),
      col("meta.media_type").as("media_type"),
      explode(transform(
        sequence(lit(0), greatest(ceil(nFrames / stride).cast("int") - 1, lit(0))),
        i => struct(
          (i * stride).as("frame_index"),
          substring(col("payload"), i * stride * frameSize + 1, lit(frameSize)).as("frame"))))
        .as("f"))
      .select(col("media_id"), col("media_type"),
        col("f.frame_index"), col("f.frame"))
      .filter(length(col("f.frame")) > 0)
  }

  /** Metadata-level rollup (oracle-checkable: nothing here touches the
    * stubbed codec, only schema-real columns). */
  def mediaStats(media: DataFrame): DataFrame =
    media.groupBy(col("meta.media_type").as("media_type"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(length(col("payload"))).as("total_bytes"),
        max(col("meta.width")).as("max_width"),
        round(sum(col("meta.n_frames")).cast("double") / count(lit(1)), 6).as("avg_frames"))

  /** Exact media dedup — the binary-modality twin of
    * [[graft.ops.TextOps.dedupExact]]: payloads hash row-locally
    * (md5 over the raw bytes, codec never involved), duplicate groups
    * surface with a deterministic survivor (min id) and the bytes a
    * dedup pass would reclaim. One hash-groupBy shuffle moving
    * (md5, id, length) rows — payload bytes never cross the wire, which
    * is the whole design at 100 TB of media. */
  def mediaDedup(media: DataFrame): DataFrame =
    media
      .select(col("media_id"), md5(col("payload")).as("payload_md5"),
        length(col("payload")).as("n_bytes"))
      .groupBy(col("payload_md5"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("media_id")).as("keep_id"),
        ((count(lit(1)) - 1) * min(col("n_bytes"))).as("wasted_bytes"))
      .filter(col("n_copies") >= 2)

  /** NEAR-dup media by frame fingerprints — the binary-modality twin of
    * [[graft.ops.TextOps.nearDupJaccard]]: two media are near-dups when
    * the jaccard of their DISTINCT frame-hash sets clears `minJaccard`.
    * Catches what [[mediaDedup]] cannot: a re-encode that changed a few
    * frames, a trimmed clip, a video sharing most of its footage —
    * whole-payload hashes differ but the frame sets overlap. Frames
    * here are dense ([[sampleFrames]] at `frameSize`/stride 1) so a
    * shared run of bytes yields shared fingerprints; a real codec would
    * emit perceptual per-frame hashes through the same plumbing.
    *
    * Scale shape: identical to the text jaccard — per-media distinct
    * hash sets, a bounded inverted index on the 32-char hash key
    * (`maxDf` caps stop-frames: intros, silence, black frames), pairs
    * emitted row-locally from each capped posting list. Payload bytes
    * never shuffle; only (hash, id, n) rows do. */
  def mediaNearDupFrames(media: DataFrame, frameSize: Int = 32,
      minJaccard: Double = 0.8, maxDf: Int = 100): DataFrame =
    frameJaccardPairs(
      sampleFrames(media, frameSize = frameSize, stride = 1)
        .select(col("media_id"), md5(col("frame")).as("h")),
      minJaccard, maxDf)

  /** PERCEPTUAL near-dup media — [[mediaNearDupFrames]] with the
    * byte-gradient [[graft.functions.TextExprs.FrameDHash]] in place of
    * md5 frame checksums. The exact variant is blind to any re-encode
    * that touches bytes (a brightness offset changes every md5); the
    * gradient hash keys on adjacent-byte SIGN structure, which an
    * order-preserving re-encode (offset, gain, quantizer shift) leaves
    * bit-identical — so a re-ingested brightness-shifted copy pairs
    * with its original at frame_jaccard 1.0 while md5 matching and
    * [[mediaDedup]] both report nothing (MultimodalSpec pins exactly
    * this contrast). Same scale shape: the inverted index shuffles
    * (8-byte hash, id, n) rows, payloads never leave their partitions.
    * Limit shared with every exact-key perceptual index: per-byte
    * RANDOM noise flips near-tie gradients, which needs Hamming-banded
    * matching (the SimHash band-join shape) rather than key equality. */
  def mediaNearDupPerceptual(media: DataFrame, frameSize: Int = 32,
      minJaccard: Double = 0.8, maxDf: Int = 100): DataFrame = {
    graft.functions.TextExprs.register(media.sparkSession)
    frameJaccardPairs(
      sampleFrames(media, frameSize = frameSize, stride = 1)
        .select(col("media_id"),
          graft.functions.TextExprs.frameDHash(col("frame")).as("h")),
      minJaccard, maxDf)
  }

  /** Hamming-banded perceptual near-dup — the noise-tolerant tier the
    * [[mediaNearDupPerceptual]] doc promises: per-byte RANDOM noise
    * flips a few near-tie gradient bits, so exact dHash key equality
    * misses what is visually the same frame. Classic SimHash banding on
    * the 64-bit dHash: `bands` 16-bit slices index candidates (pigeonhole:
    * hamming ≤ bands-1 ⇒ ≥1 shared band), the TRUE hamming distance
    * verifies each candidate frame pair (`bit_count(h_a XOR h_b)`), and
    * media pairs score by the fraction of the LOWER-id side's distinct
    * frames matched (A-in-B containment, bounded ≤ 1 — robust to the
    * other side carrying extra footage).
    *
    * Bands slice the POPULATED bit range, not the raw 64: the two-scale
    * [[graft.functions.TextExprs.frameDHashKernel]] populates 61 bits
    * for the default 32-byte frame (31 adjacent + 30 skip-2 gradients,
    * bits 31/62/63 zero), so band width is ceil(populatedBits / bands)
    * = 4×16 bits over bits 0-63 with every band informative. Slicing a
    * SINGLE-scale 31-bit hash would force one of two failure modes the
    * r8/r9 verdict-and-soak pair measured: 16-bit slices leave bands
    * 2-3 constant-zero (degenerate buckets, pigeonhole silently ≤ 1),
    * and 8-bit slices saturate every bucket past ~25k frames at
    * maxDf = 100 (candidate recall collapses — soak base rows fell
    * 1055 → 7). The hamming ≤ bands−1 ⇒ shared-band guarantee holds:
    * unpopulated bits are identically zero on both sides of any pair.
    *
    * Scale shape: same bounded-postings discipline as the exact arm —
    * band keys are capped at `maxDf` postings (stop-band removal), pair
    * emission is row-local inside each bounded bucket, and payloads
    * never shuffle (8-byte hashes + ids only). Fully deterministic, so
    * the DuckDB oracle replays banding, verification, and scoring. */
  def mediaNearDupHamming(media: DataFrame, frameSize: Int = 32,
      maxHamming: Int = 3, bands: Int = 4, maxDf: Int = 100,
      minScore: Double = 0.8): DataFrame = {
    graft.functions.TextExprs.register(media.sparkSession)
    val fr = sampleFrames(media, frameSize = frameSize, stride = 1)
      .select(col("media_id"),
        graft.functions.TextExprs.frameDHash(col("frame")).as("h"))
      .distinct()
    val sz = fr.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
    val popAdj = math.min(frameSize - 1, 32)
    val popSkip = math.min(math.max(frameSize - 2, 0), 30)
    val popBits = if (popSkip > 0) 32 + popSkip else popAdj
    val width = (popBits + bands - 1) / bands
    val mask = (1L << width) - 1
    val banded = fr.select(col("media_id"), col("h"),
      explode(array((0 until bands).map(b => struct(lit(b).as("b"),
        shiftright(col("h"), b * width).bitwiseAND(lit(mask)).as("k"))): _*))
        .as("bk"))
    // bounded postings per band key; the 64-bit posting carries the
    // full hash so candidates verify in place, no re-join
    val capped = udaf(graft.functions.BoundedList.postings64(maxDf + 1))
    val cand = banded.groupBy(col("bk"))
      .agg(capped(col("media_id"), col("h")).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("media_a"), col("b.doc_id").as("media_b"),
        col("a.h").as("ha"), col("b.h").as("hb"))
      .distinct() // a frame pair may share several bands — verify once
    val matched = cand
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .groupBy(col("media_a"), col("media_b"))
      .agg(count_distinct(col("ha")).as("matched_frames"))
    matched
      .join(sz.select(col("media_id").as("media_a"), col("n").as("n_a")), Seq("media_a"))
      .join(sz.select(col("media_id").as("media_b"), col("n").as("n_b")), Seq("media_b"))
      .select(col("media_a"), col("media_b"), col("matched_frames"),
        col("n_a"), col("n_b"),
        round(col("matched_frames").cast("double") / col("n_a"), 6)
          .as("containment"))
      .filter(col("containment") >= minScore)
  }

  /** Shared tail of the frame-set jaccard family: distinct per-media
    * hash sets → bounded inverted index on the hash key → row-local
    * pair emission → exact jaccard ≥ `minJaccard`. `hashed` is
    * (media_id, h) at frame grain; the hash type just needs equality. */
  private def frameJaccardPairs(hashed: DataFrame, minJaccard: Double,
      maxDf: Int): DataFrame = {
    val sets = hashed
      .groupBy(col("media_id")).agg(collect_set(col("h")).as("hs"))
      .select(col("media_id"), size(col("hs")).as("n"),
        explode(col("hs")).as("h"))
    val capped = udaf(graft.functions.BoundedList.postings(maxDf + 1))
    sets.groupBy(col("h"))
      .agg(capped(col("media_id"), col("n")).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("media_a"), col("b.doc_id").as("media_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("shared"))
      .select(col("media_a"), col("media_b"), col("shared"), col("n_a"), col("n_b"),
        round(col("shared").cast("double")
          / (col("n_a") + col("n_b") - col("shared")), 6).as("frame_jaccard"))
      .filter(col("frame_jaccard") >= minJaccard)
  }
}
