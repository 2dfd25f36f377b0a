package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video payloads ride as opaque
  * `binary` columns with a typed metadata struct; media decode /
  * feature-extract / resize / frame-sample run as per-partition batch
  * transforms (`mapPartitions` over an iterator — the Scala analogue of
  * arrow-batched Pandas UDFs).
  *
  * Decode is REAL for every format a pure-JVM path exists for:
  *  - images: binary PPM (P6) and GIF via the pure-Scala parsers below
  *    (GIF gets its own LZW decoder because the JDK reader mis-decodes
  *    interlaced bit-packed palettes — see [[decodeGif]]), and
  *    PNG/JPEG/BMP/WBMP/TIFF via `javax.imageio`;
  *  - audio: WAV/PCM (8/16/24/32-bit) via the pure-Scala RIFF parser
  *    ([[decodeWav]] — fmt fields + exact sample mean), and COMPRESSED
  *    MPEG-1 Layers I, II and III via the pure-Scala bitstream
  *    decoders ([[decodeMp3Layer1]], [[decodeMp3Layer2]],
  *    [[decodeMp3Layer3]] — spec-exact requantization incl. Layer II
  *    allocation tables, scfsi and grouped codes, and Layer III side
  *    info / bit reservoir / Huffman / scalefactor decode);
  *  - video: AVI container metadata via the `avih` header scan
  *    ([[aviMeta]] — dims/frame-count/fps without decoding frames),
  *    and H.264/AVC Annex-B elementary streams via the pure-Scala NAL
  *    parser ([[decodeH264IPcm]] — SPS/PPS/slice-header Exp-Golomb
  *    parse plus exact sample decode of I_PCM macroblocks).
  * Only payloads none of these recognize (the remaining compressed
  * codec shapes: AAC, predicted/transform-coded H.264 macroblocks,
  * plus the Layer III shapes the documented table subset declines)
  * fall back to `fakeDecode`, a documented deterministic stub with
  * the same output contract — swap in ffmpeg/JNI bindings there in
  * production.
  */
object Multimodal {

  /** canonical multimodal schema fragment */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image|audio|video
    StructField("format", StringType),       // png|jpeg|wav|mp4|...
    StructField("byte_len", LongType),
  ))

  case class MediaRow(doc_id: Long, content: Array[Byte], media_type: String, format: String)
  case class DecodedImage(doc_id: Long, width: Int, height: Int, channels: Int,
      mean_intensity: Double)
  case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])
  case class MediaFeatures(doc_id: Long, features: Array[Float])
  case class MediaFeatureRow(doc_id: Long, feature_idx: Int, value: Double)

  /** Attach the metadata struct to a binary payload column. */
  def withMediaMeta(df: DataFrame, contentCol: String, mediaType: String,
      format: String): DataFrame =
    df.withColumn("media_meta", struct(
      lit(mediaType).as("media_type"), lit(format).as("format"),
      length(col(contentCol)).cast("long").as("byte_len")))

  /** REAL decoder for binary PPM (P6) — a pure-JVM parse, no external
    * libraries: ASCII header `P6 <w> <h> <maxval>` (with comments and
    * arbitrary whitespace), one whitespace byte, then w*h*3 raw pixel
    * bytes. Mean intensity is computed over the actual pixels. Returns
    * None for anything that is not a well-formed P6 payload. */
  /** P6 header parse shared by every PPM consumer: (width, height,
    * maxval, data offset), with the whole RGB payload verified
    * present. Digit runs past 9 chars decline (Int overflow would
    * otherwise throw NumberFormatException out of the task — the
    * MediaFuzzSpec contract). ONE copy — decodeP6, grayPlane and
    * rgbPixels all walk this header. */
  private def p6Header(bytes: Array[Byte], maxMaxval: Int)
      : Option[(Int, Int, Int, Int)] = {
    if (bytes.length < 2 || bytes(0) != 'P'.toByte || bytes(1) != '6'.toByte) return None
    var i = 2
    def skipWs(): Unit = {
      var go = true
      while (go && i < bytes.length) {
        val c = bytes(i)
        if (c == '#'.toByte) { while (i < bytes.length && bytes(i) != '\n'.toByte) i += 1 }
        else if (c == ' '.toByte || c == '\n'.toByte || c == '\r'.toByte || c == '\t'.toByte) i += 1
        else go = false
      }
    }
    def readInt(): Int = {
      skipWs()
      val st = i
      while (i < bytes.length && bytes(i) >= '0'.toByte && bytes(i) <= '9'.toByte) i += 1
      if (i == st || i - st > 9) -1
      else new String(bytes, st, i - st, "US-ASCII").toInt
    }
    val w = readInt(); val h = readInt(); val maxv = readInt()
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv >= maxMaxval) return None
    i += 1 // the single whitespace byte after maxval
    val n = w.toLong * h * 3
    if (n > Int.MaxValue || bytes.length - i < n) return None
    Some((w, h, maxv, i))
  }

  private[graft] def decodeP6(bytes: Array[Byte]): Option[(Int, Int, Int, Double)] =
    p6Header(bytes, maxMaxval = 65536).map { case (w, h, _, i) =>
      val n = w * h * 3
      var s = 0L
      var j = i
      while (j < i + n) { s += (bytes(j) & 0xFF); j += 1 }
      (w, h, 3, s.toDouble / n)
    }

  /** REAL pure-Scala GIF decoder (GIF87a/GIF89a, first frame): header +
    * color table parse, variable-width LSB-first LZW, interlace
    * reorder. Exists because the JDK's `GIFImageReader` has a
    * deinterlacing bug when the destination raster is bit-packed
    * (palette < 256 → 2/4 bpp): interlaced rows land misplaced and the
    * skipped rows read back as palette entry 0 (verified against an
    * independent LZW decode of the same bytes — the *writer*'s output
    * is valid). Mean is over the palette-expanded RGB samples
    * (channels = 3); a transparent index, if declared, still
    * contributes its palette RGB — deterministic and documented.
    * Returns None on anything but a well-formed single-frame-readable
    * GIF, falling through to ImageIO and then the stub. */
  private[graft] def decodeGif(bytes: Array[Byte]): Option[(Int, Int, Int, Double)] = {
    if (bytes.length < 14) return None
    if (!(bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8' &&
          (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a')) return None
    try {
      def u8(i: Int) = bytes(i) & 0xFF
      def u16(i: Int) = u8(i) | (u8(i + 1) << 8)
      val screenFlags = u8(10)
      var pos = 13
      var gct: Array[Int] = null // packed 0xRRGGBB
      def readColorTable(n: Int): Array[Int] = {
        val t = Array.tabulate(n)(k => (u8(pos + 3 * k) << 16) | (u8(pos + 3 * k + 1) << 8) | u8(pos + 3 * k + 2))
        pos += 3 * n
        t
      }
      if ((screenFlags & 0x80) != 0) gct = readColorTable(2 << (screenFlags & 7))
      // skip extensions up to the first image descriptor
      while (u8(pos) == 0x21) {
        pos += 2 // introducer + label
        while (u8(pos) != 0) pos += 1 + u8(pos)
        pos += 1
      }
      if (u8(pos) != 0x2C) return None
      gifImageBlock(bytes, pos, gct).map { case (iw, ih, rgb, _) =>
        var sum = 0L
        var p = 0
        while (p < rgb.length) {
          val e = rgb(p)
          sum += ((e >> 16) & 0xFF) + ((e >> 8) & 0xFF) + (e & 0xFF)
          p += 1
        }
        (iw, ih, 3, sum.toDouble / (iw.toLong * ih * 3))
      }
    } catch { case _: Exception => None }
  }

  /** Decode ONE GIF image block (descriptor at `pos0` must be 0x2C):
    * descriptor parse, local/global palette pick, variable-width
    * LSB-first LZW to palette indices, palette expansion to packed
    * 0xRRGGBB pixels. Returns (iw, ih, rgb pixels, posAfterBlock).
    * Interlacing permutes row PLACEMENT only — the pixel multiset is
    * identical, so means/frame stats need no deinterlace. */
  private def gifImageBlock(bytes: Array[Byte], pos0: Int,
      gct: Array[Int]): Option[(Int, Int, Array[Int], Int)] =
    gifIndexBlock(bytes, pos0, gct).map { case (iw, ih, _, _, indices, pal, next) =>
      val rgb = new Array[Int](indices.length)
      var p = 0
      while (p < indices.length) {
        rgb(p) = pal(indices(p) & (pal.length - 1)); p += 1
      }
      (iw, ih, rgb, next)
    }

  /** The index-level half of [[gifImageBlock]]: (iw, ih, left, top,
    * deinterlaced palette INDICES, palette, nextPos) — what canvas
    * compositing needs (transparency is an index test, not a color
    * test). */
  private def gifIndexBlock(bytes: Array[Byte], pos0: Int, gct: Array[Int])
      : Option[(Int, Int, Int, Int, Array[Int], Array[Int], Int)] = {
    def u8(i: Int) = bytes(i) & 0xFF
    def u16(i: Int) = u8(i) | (u8(i + 1) << 8)
    var pos = pos0
    val left = u16(pos + 1); val top = u16(pos + 3)
    val iw = u16(pos + 5); val ih = u16(pos + 7); val iflags = u8(pos + 9)
    pos += 10
    val palette =
      if ((iflags & 0x80) != 0) {
        val n = 2 << (iflags & 7)
        val t = Array.tabulate(n)(k =>
          (u8(pos + 3 * k) << 16) | (u8(pos + 3 * k + 1) << 8) | u8(pos + 3 * k + 2))
        pos += 3 * n
        t
      } else gct
    if (palette == null || iw <= 0 || ih <= 0 || iw.toLong * ih > Int.MaxValue / 4)
      return None
    val minCodeSize = u8(pos); pos += 1
    // concatenate the LZW sub-blocks
    val sub = new java.io.ByteArrayOutputStream()
    while (u8(pos) != 0) { sub.write(bytes, pos + 1, u8(pos)); pos += 1 + u8(pos) }
    pos += 1 // block terminator
    val stream = sub.toByteArray
    // variable-width LSB-first LZW decode to palette indices
    val nPix = iw * ih
    val indices = new Array[Int](nPix)
    var nOut = 0
    val clear = 1 << minCodeSize; val eoi = clear + 1
    var codeSize = minCodeSize + 1
    var bitPos = 0
    val maxDict = 1 << 12
    val prefix = new Array[Int](maxDict); val suffix = new Array[Int](maxDict)
    var nextCode = eoi + 1
    var prev = -1
    val pixBuf = new Array[Int](maxDict)
    def emit(code: Int): Int = { // writes the code's expansion; returns its first index
      var c = code; var n = 0
      while (c >= clear) { pixBuf(n) = suffix(c); c = prefix(c); n += 1 }
      pixBuf(n) = c; n += 1
      var k = n - 1
      while (k >= 0 && nOut < nPix) { indices(nOut) = pixBuf(k); nOut = nOut + 1; k -= 1 }
      c
    }
    var done = false
    while (!done && nOut < nPix) {
      if (bitPos + codeSize > stream.length * 8) done = true
      else {
        var code = 0; var i = 0
        while (i < codeSize) {
          code |= (((stream((bitPos + i) >> 3) >> ((bitPos + i) & 7)) & 1) << i)
          i += 1
        }
        bitPos += codeSize
        if (code == clear) { nextCode = eoi + 1; codeSize = minCodeSize + 1; prev = -1 }
        else if (code == eoi) done = true
        else {
          val first =
            if (code < nextCode) emit(code)
            else if (code == nextCode && prev >= 0) { // KwKwK case
              var c = prev; while (c >= clear) c = prefix(c)
              if (nOut < nPix) { emit(prev); if (nOut < nPix) { indices(nOut) = c; nOut += 1 } }
              c
            } else return None
          if (prev >= 0 && nextCode < maxDict) {
            prefix(nextCode) = prev; suffix(nextCode) = first
            nextCode += 1
            if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          prev = code
        }
      }
    }
    if (nOut < nPix) return None
    var idx = indices
    if ((iflags & 0x40) != 0) {
      // deinterlace: storage order is the 4 GIF passes concatenated;
      // place each stored row at its display position (mean-only
      // consumers never cared, but frame re-encodes are
      // placement-sensitive — dHash/resize read real row positions)
      val order = (0 until ih by 8) ++ (4 until ih by 8) ++
        (2 until ih by 4) ++ (1 until ih by 2)
      val out = new Array[Int](nPix)
      var s = 0
      order.foreach { d =>
        System.arraycopy(idx, s * iw, out, d * iw, iw); s += 1
      }
      idx = out
    }
    Some((iw, ih, left, top, idx, palette, pos))
  }

  /** Frames of a (possibly animated) GIF as (frameIdx, iw, ih, rgb
    * pixels): the full block walk — extensions skipped between
    * descriptors, stop at trailer 0x3B. GIF frames are INDEPENDENTLY
    * LZW-coded, so frames failing `keep` are SKIPPED structurally
    * (sub-block walk, no decode, no pixel allocation) — stride-N
    * sampling of an M-frame payload decodes M/N frames, which is what
    * keeps frame sampling linear in the SAMPLE at 100 TB, not in the
    * footage. None for non-GIF payloads.
    *
    * This is the FAST path for full-frame animations. Inter-frame
    * OPTIMIZED GIFs — delta frames at a nonzero offset, sub-rect
    * frames, or transparency (whose pixels mean "previous frame's
    * value") — need canvas compositing to render correctly, so
    * multi-frame payloads using any of those return None here and
    * render through [[gifFramesComposited]] (which must decode every
    * frame — the structural skip is exactly what compositing
    * forfeits). */
  private[graft] def gifFrames(bytes: Array[Byte],
      keep: Int => Boolean = _ => true): Option[Seq[(Int, Int, Int, Array[Int])]] = {
    if (bytes.length < 14) return None
    if (!(bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8' &&
          (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a')) return None
    try {
      def u8(i: Int) = bytes(i) & 0xFF
      def u16(i: Int) = u8(i) | (u8(i + 1) << 8)
      val screenW = u16(6); val screenH = u16(8)
      val screenFlags = u8(10)
      var pos = 13
      var gct: Array[Int] = null
      if ((screenFlags & 0x80) != 0) {
        val n = 2 << (screenFlags & 7)
        gct = Array.tabulate(n)(k =>
          (u8(pos + 3 * k) << 16) | (u8(pos + 3 * k + 1) << 8) | u8(pos + 3 * k + 2))
        pos += 3 * n
      }
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Array[Int])]
      var idx = 0
      var sawFrame = false
      var composited = false // delta/sub-rect/transparent frames seen
      var go = true
      while (go && pos < bytes.length) {
        u8(pos) match {
          case 0x21 => // extension: introducer + label + sub-blocks
            if (u8(pos + 1) == 0xF9 && (u8(pos + 3) & 1) == 1)
              composited = true // GCE transparency: pixels mean "previous frame"
            pos += 2
            while (u8(pos) != 0) pos += 1 + u8(pos)
            pos += 1
          case 0x2C =>
            sawFrame = true
            if (u16(pos + 1) != 0 || u16(pos + 3) != 0 ||
                u16(pos + 5) != screenW || u16(pos + 7) != screenH)
              composited = true // offset / sub-rect delta frame
            if (keep(idx)) gifImageBlock(bytes, pos, gct) match {
              case Some((iw, ih, rgb, next)) =>
                frames += ((idx, iw, ih, rgb)); pos = next
              case None => return None
            } else {
              // structural skip: descriptor + optional local table +
              // min code size + sub-blocks, zero decode work
              val iflags = u8(pos + 9)
              pos += 10
              if ((iflags & 0x80) != 0) pos += 3 * (2 << (iflags & 7))
              pos += 1 // min code size
              while (u8(pos) != 0) pos += 1 + u8(pos)
              pos += 1
            }
            idx += 1
          case 0x3B => go = false // trailer
          case _ => return None
        }
      }
      // multi-frame + compositing semantics route to the canvas
      // compositor ([[gifFramesComposited]]); single frames render
      // standalone either way
      if (!sawFrame || (idx > 1 && composited)) None else Some(frames.toSeq)
    } catch { case _: Exception => None }
  }

  /** Inter-frame-optimized (composited) GIF animations rendered for
    * REAL: full GIF89a canvas semantics — delta frames at arbitrary
    * (left, top) sub-rects, per-frame transparency (a transparent
    * index leaves the underlying canvas pixel), and the three disposal
    * methods (none/keep, 2 = restore rect to background, 3 = restore
    * to previous canvas). Every frame must be DECODED (frame N's
    * pixels depend on frames < N — that is the point of the format),
    * so unlike [[gifFrames]] the `keep` predicate bounds only the
    * EMITTED snapshots, not the decode work; sampling stays linear in
    * the footage here, which is the honest cost of composited input.
    * Canvas starts at the logical-screen background color (GCT bg
    * index; black without a GCT), the common renderer convention.
    * Returns full-canvas snapshots (screenW x screenH), one per kept
    * frame. None for non-GIF payloads or broken LZW. */
  private[graft] def gifFramesComposited(bytes: Array[Byte],
      keep: Int => Boolean = _ => true): Option[Seq[(Int, Int, Int, Array[Int])]] = {
    if (bytes.length < 14) return None
    if (!(bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8' &&
          (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a')) return None
    try {
      def u8(i: Int) = bytes(i) & 0xFF
      val screenW = u8(6) | (u8(7) << 8); val screenH = u8(8) | (u8(9) << 8)
      val screenFlags = u8(10); val bgIndex = u8(11)
      // canvas memory is sized by the DECLARED logical screen, not by
      // anything the LZW stream must actually produce — a ~100-byte
      // payload declaring 16000x16000 would allocate a 1 GiB canvas
      // plus a clone per kept frame. 16M pixels (64 MB int canvas,
      // e.g. 4096x4096) bounds the amplification from an untrusted
      // payload; larger declared screens decline to the fallback.
      if (screenW <= 0 || screenH <= 0 ||
          screenW.toLong * screenH > (1L << 24)) return None
      var pos = 13
      var gct: Array[Int] = null
      if ((screenFlags & 0x80) != 0) {
        val n = 2 << (screenFlags & 7)
        gct = Array.tabulate(n)(k =>
          (u8(pos + 3 * k) << 16) | (u8(pos + 3 * k + 1) << 8) | u8(pos + 3 * k + 2))
        pos += 3 * n
      }
      val bg = if (gct != null && bgIndex < gct.length) gct(bgIndex) else 0
      val canvas = Array.fill(screenW * screenH)(bg)
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Array[Int])]
      var idx = 0
      var transparent = -1 // GCE state for the NEXT image
      var disposal = 0
      var sawFrame = false
      var go = true
      while (go && pos < bytes.length) {
        u8(pos) match {
          case 0x21 =>
            if (u8(pos + 1) == 0xF9) { // graphic control extension
              val f = u8(pos + 3)
              disposal = (f >> 2) & 7
              transparent = if ((f & 1) == 1) u8(pos + 6) else -1
            }
            pos += 2
            while (u8(pos) != 0) pos += 1 + u8(pos)
            pos += 1
          case 0x2C =>
            sawFrame = true
            gifIndexBlock(bytes, pos, gct) match {
              case Some((iw, ih, left, top, indices, pal, next)) =>
                val saved = if (disposal == 3) canvas.clone() else null
                var y = 0
                while (y < ih) {
                  val cy = top + y
                  if (cy < screenH) {
                    var x = 0
                    while (x < iw) {
                      val cx = left + x
                      val v = indices(y * iw + x)
                      if (cx < screenW && v != transparent)
                        canvas(cy * screenW + cx) = pal(v & (pal.length - 1))
                      x += 1
                    }
                  }
                  y += 1
                }
                if (keep(idx)) frames += ((idx, screenW, screenH, canvas.clone()))
                // disposal applies AFTER the frame is displayed
                disposal match {
                  case 2 => // restore the frame RECT to background
                    var dy = 0
                    while (dy < ih) {
                      val cy = top + dy
                      if (cy < screenH) {
                        var dx = 0
                        while (dx < iw) {
                          val cx = left + dx
                          if (cx < screenW) canvas(cy * screenW + cx) = bg
                          dx += 1
                        }
                      }
                      dy += 1
                    }
                  case 3 => System.arraycopy(saved, 0, canvas, 0, canvas.length)
                  case _ =>
                }
                transparent = -1; disposal = 0 // GCE scope is one image
                idx += 1
                pos = next
              case None => return None
            }
          case 0x3B => go = false
          case _ => return None
        }
      }
      if (!sawFrame) None else Some(frames.toSeq)
    } catch { case _: Exception => None }
  }

  /** REAL decoder for every format the JVM's `javax.imageio` registry
    * handles (PNG/JPEG/BMP/WBMP/TIFF out of the box; GIF is handled by the
    * pure-Scala [[decodeGif]] first because the JDK reader mis-decodes
    * interlaced bit-packed GIFs). Returns (width, height, bands, mean).
    * Output contract: palette images and images with an alpha band are
    * expanded/composited to 3-band RGB (alpha composites onto black, so
    * fully-opaque pixels are unchanged); samples wider than 8 bits are
    * rescaled so the mean is always on the 0..255 scale. `bands` is the
    * post-normalization band count (3 for palette/alpha inputs, 1 for
    * grayscale). None when no installed reader recognizes the payload. */
  private[graft] def decodeImageIO(bytes: Array[Byte]): Option[(Int, Int, Int, Double)] = {
    if (bytes.length < 4) return None
    // in-memory streams only: the default ImageIO path spills to a
    // disk-backed cache file per call, which executors must not do
    val stream = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(stream)
      if (!readers.hasNext) return None
      val reader = readers.next()
      try {
        reader.setInput(stream, true, true)
        val decoded = reader.read(0)
        // normalize: palette formats (indexed PNG/GIF) raster-sample as
        // palette INDICES, and alpha formats (RGBA PNG) would average
        // the alpha band into the mean — expand/composite both to
        // 3-band RGB (onto black: opaque pixels unchanged)
        val cm = decoded.getColorModel
        val img =
          if (cm.isInstanceOf[java.awt.image.IndexColorModel] || cm.hasAlpha) {
            val rgb = new java.awt.image.BufferedImage(decoded.getWidth,
              decoded.getHeight, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            val g = rgb.createGraphics()
            g.drawImage(decoded, 0, 0, null)
            g.dispose()
            rgb
          } else decoded
        val raster = img.getRaster
        val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
        var sum = 0L
        val row = new Array[Int](w * bands)
        var y = 0
        while (y < h) {
          raster.getPixels(0, y, w, 1, row)
          var i = 0
          while (i < row.length) { sum += row(i); i += 1 }
          y += 1
        }
        // >8-bit samples (16-bit PNG) report on the native scale; bring
        // the mean back to 0..255 so equivalent images agree
        val maxSample = (1L << img.getSampleModel.getSampleSize(0)) - 1
        val mean = sum.toDouble / (w.toLong * h * bands)
        Some((w, h, bands, if (maxSample > 255) mean * 255.0 / maxSample else mean))
      } finally reader.dispose()
    } catch { case _: Exception => None }
    finally stream.close()
  }

  case class DecodedAudio(doc_id: Long, channels: Int, sample_rate: Int,
      n_samples: Long, duration_ms: Double, mean_level: Double)
  case class VideoMeta(doc_id: Long, width: Int, height: Int,
      total_frames: Long, fps: Double)

  /** REAL pure-Scala WAV (RIFF) decoder: `fmt ` chunk for
    * channels/rate/width, `data` chunk for the samples. `mean_level` is
    * the average sample normalized to [0, 1] (8-bit PCM is unsigned,
    * 16/24/32-bit are signed little-endian and shift to unsigned for
    * the same scale; IEEE-float formats report (v+1)/2; G.711 µ-law /
    * A-law expand to 16-bit linear by the published formulas first).
    * Covers WAVE format codes 1 (PCM), 3 (float), 6 (A-law),
    * 7 (µ-law) and their EXTENSIBLE GUID forms — the codes with a
    * formula-only decode path. Returns None for anything else
    * (compressed codecs stay behind the documented stub). */
  /** WAV layout with format class: (codec, channels, rate, bits,
    * dataOff, dataLen), codec = 1 LPCM (incl. the EXTENSIBLE PCM
    * GUID), 3 IEEE float (incl. the EXTENSIBLE float GUID), 6 G.711
    * A-law, 7 G.711 µ-law — the four WAVE format codes with a
    * formula-only decode path. Anything else returns None. */
  private def wavLayout(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int, Long)] = {
    if (bytes.length < 44) return None
    def tag(i: Int, s: String) = bytes.length >= i + 4 &&
      bytes(i) == s(0).toByte && bytes(i + 1) == s(1).toByte &&
      bytes(i + 2) == s(2).toByte && bytes(i + 3) == s(3).toByte
    if (!tag(0, "RIFF") || !tag(8, "WAVE")) return None
    try {
      def u16(i: Int) = (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8)
      def u32(i: Int) = (bytes(i) & 0xFF).toLong | ((bytes(i + 1) & 0xFF).toLong << 8) |
        ((bytes(i + 2) & 0xFF).toLong << 16) | ((bytes(i + 3) & 0xFF).toLong << 24)
      var pos = 12
      var codec = 0; var channels = 0; var rate = 0; var bits = 0; var fmtOk = false
      var dataOff = -1; var dataLen = 0L
      while (pos + 8 <= bytes.length && (dataOff < 0 || !fmtOk)) {
        val len = u32(pos + 4)
        if (len < 0 || len > bytes.length) return None // corrupt chunk length
        if (tag(pos, "fmt ") && len >= 16) {
          val audioFormat = u16(pos + 8)
          channels = u16(pos + 10); rate = u32(pos + 12).toInt
          bits = u16(pos + 22)
          // WAVE_FORMAT_EXTENSIBLE (0xFFFE): the 16-byte SubFormat
          // GUID starts with the actual format code (0x0001 PCM /
          // 0x0003 float); samples are container-width exactly like
          // the plain codes (the pluck-pcm24-ext conformance fixture
          // pins the PCM case against javax.sound)
          codec =
            if (audioFormat == 0xFFFE && len >= 40) u16(pos + 32)
            else audioFormat
          fmtOk = channels > 0 && rate > 0 && (codec match {
            case 1 => bits == 8 || bits == 16 || bits == 24 || bits == 32
            case 3 => bits == 32 || bits == 64
            case 6 | 7 => bits == 8 // G.711 is always 8-bit compressed
            case _ => false
          })
        } else if (tag(pos, "data")) {
          dataOff = pos + 8; dataLen = math.min(len, (bytes.length - pos - 8).toLong)
        }
        pos += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
      }
      if (!fmtOk || dataOff < 0) None
      else Some((codec, channels, rate, bits, dataOff, dataLen))
    } catch { case _: Exception => None }
  }


  /** The `idx`-th sample as the UNSIGNED long the mean-level decode
    * uses (8-bit native-unsigned; 16/24/32 signed -> shifted). */
  private def wavSampleU(bytes: Array[Byte], dataOff: Int, bits: Int,
      idx: Long): Long = {
    def u16(i: Int) = (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8)
    def u32(i: Int) = (bytes(i) & 0xFF).toLong | ((bytes(i + 1) & 0xFF).toLong << 8) |
      ((bytes(i + 2) & 0xFF).toLong << 16) | ((bytes(i + 3) & 0xFF).toLong << 24)
    val i = dataOff + (idx * (bits / 8)).toInt
    bits match {
      case 8 => (bytes(i) & 0xFF).toLong
      case 16 => u16(i).toShort.toLong + 32768L
      case 24 =>
        val raw = (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8) |
          ((bytes(i + 2) & 0xFF) << 16)
        ((raw << 8) >> 8).toLong + (1L << 23)
      case _ => u32(i).toInt.toLong + (1L << 31)
    }
  }

  /** `computeMean = false` (the [[audioMeta]] path) stops after the
    * header walk — layout fields only, `mean_level` 0. */
  private[graft] def decodeWav(bytes: Array[Byte],
      computeMean: Boolean = true): Option[DecodedAudioRaw] =
    wavLayout(bytes).map { case (codec, channels, rate, bits, dataOff, dataLen) =>
      val bytesPerSample = bits / 8
      val frameBytes = bytesPerSample * channels
      val nFrames = dataLen / frameBytes
      val nSamples = nFrames * channels
      def u32(i: Int) = (bytes(i) & 0xFF).toLong | ((bytes(i + 1) & 0xFF).toLong << 8) |
        ((bytes(i + 2) & 0xFF).toLong << 16) | ((bytes(i + 3) & 0xFF).toLong << 24)
      var sum = 0.0
      val full = (1L << bits) - 1
      var idx = 0L
      while (computeMean && idx < nSamples) {
        sum += (codec match {
          case 3 if bits == 32 => // IEEE float LE: (v+1)/2 on the same [0,1] scale
            (java.lang.Float.intBitsToFloat(
              u32(dataOff + (idx * 4).toInt).toInt) + 1.0) / 2.0
          case 3 =>
            val o = dataOff + (idx * 8).toInt
            (java.lang.Double.longBitsToDouble(u32(o) | (u32(o + 4) << 32)) + 1.0) / 2.0
          case 6 => (g711Alaw(bytes(dataOff + idx.toInt) & 0xFF) + 32768).toDouble / 65535
          case 7 => (g711Ulaw(bytes(dataOff + idx.toInt) & 0xFF) + 32768).toDouble / 65535
          case _ => wavSampleU(bytes, dataOff, bits, idx).toDouble / full
        })
        idx += 1
      }
      DecodedAudioRaw(channels, rate, nSamples,
        nFrames.toDouble * 1000.0 / rate,
        if (nSamples == 0) 0.0 else sum / nSamples,
        // G.711 expands to 16-bit linear; the container byte width (8)
        // is not the decoded PCM width
        if (codec == 6 || codec == 7) 16 else bits)
    }
  /** G.711 µ-law expansion by the published segment/mantissa FORMULA
    * (no tables): on the bit-inverted byte, magnitude =
    * (((m << 3) + 0x84) << e) - 0x84. Byte-for-byte equal to the JDK
    * codec (pinned by the pluck-ulaw.au fixture) and to CPython
    * audioop's table. */
  private[graft] def g711Ulaw(b0: Int): Int = {
    val u = ~b0 & 0xFF
    val mag = (((u & 0xF) << 3) + 0x84 << ((u >> 4) & 7)) - 0x84
    if ((u & 0x80) != 0) -mag else mag
  }

  /** G.711 A-law expansion from the 0x55-xored byte (sign bit SET
    * means positive). Byte-for-byte equal to CPython audioop's table
    * (pinned by the pluck-alaw.aifc fixture). */
  private[graft] def g711Alaw(b0: Int): Int = {
    val a = b0 ^ 0x55
    val e = (a >> 4) & 7
    val m = a & 0xF
    val mag = if (e == 0) (m << 4) + 8 else ((m << 4) + 0x108) << (e - 1)
    if ((a & 0x80) != 0) mag else -mag
  }

  /** REAL pure-Scala AIFF / AIFF-C decoder (public spec: EA IFF 85 +
    * Apple AIFF-1.3): FORM/AIFF chunk walk, COMM (channels, frame
    * count, sample width, and the 80-bit IEEE-754-extended sample
    * rate decoded by formula), SSND samples. AIFF carries big-endian
    * SIGNED PCM at 8/16/24/32 bits; AIFF-C compression types decode
    * for "NONE" (same PCM), "sowt" (byte-swapped 16-bit LE PCM),
    * "ulaw"/"alaw" (G.711 by the formulas above, expanded to 16-bit
    * linear), and "fl32"/"fl64" (big-endian IEEE floats) — every
    * variant is FORMULA-decodable (byte order + IEEE-754 + G.711
    * arithmetic), so no spec table transcription is involved. Other
    * compression fourccs decline by documentation. Integer mean level
    * reports in the same offset-binary domain as [[decodeWav]]
    * (signed + 2^(bits-1), normalized by 2^bits - 1); float samples
    * report (v+1)/2 in the same [0,1] scale. Pinned against CPython's
    * aifc module (PCM + alaw) by the pluck fixtures. */
  /** AIFF/AIFF-C layout: (codec, channels, rate, bits, bytesPer,
    * dataOff, nSamples) with codec 0 = BE PCM, 1 = LE16 (sowt),
    * 2 = ulaw, 3 = alaw, 4 = f32 BE, 5 = f64 BE; `bits` is the
    * DECODED width (16 for G.711). Shared by [[decodeAiff]] and the
    * [[pcmView]] accessor. */
  private def aiffLayout(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int, Int, Long)] = {
    if (bytes.length < 12) return None
    def tag(i: Int, s: String) = bytes.length >= i + 4 &&
      bytes(i) == s(0).toByte && bytes(i + 1) == s(1).toByte &&
      bytes(i + 2) == s(2).toByte && bytes(i + 3) == s(3).toByte
    if (!tag(0, "FORM") || !(tag(8, "AIFF") || tag(8, "AIFC"))) return None
    val aifc = tag(8, "AIFC")
    try {
      def u16(i: Int) = ((bytes(i) & 0xFF) << 8) | (bytes(i + 1) & 0xFF)
      def u32(i: Int): Long = ((bytes(i) & 0xFFL) << 24) | ((bytes(i + 1) & 0xFFL) << 16) |
        ((bytes(i + 2) & 0xFFL) << 8) | (bytes(i + 3) & 0xFFL)
      var pos = 12
      var channels = 0; var frames = 0L; var bits = 0; var rate = 0
      var commOk = false
      // codec: 0 = BE PCM, 1 = LE16 (sowt), 2 = ulaw, 3 = alaw,
      // 4 = f32 BE, 5 = f64 BE
      var codec = 0
      var dataOff = -1; var dataLen = 0L
      while (pos + 8 <= bytes.length && (dataOff < 0 || !commOk)) {
        val len = u32(pos + 4)
        if (len < 0 || pos + 8 + len > bytes.length) return None
        if (tag(pos, "COMM") && len >= 18) {
          channels = u16(pos + 8)
          frames = u32(pos + 10)
          bits = u16(pos + 14)
          // 80-bit extended: 15-bit exponent (bias 16383), 64-bit
          // mantissa with explicit integer bit; audio rates fit the
          // high 32 mantissa bits exactly
          val e = (((bytes(pos + 16) & 0x7F) << 8) | (bytes(pos + 17) & 0xFF)) - 16383
          val manHi = u32(pos + 18)
          rate = math.round(manHi.toDouble * math.pow(2.0, e - 31)).toInt
          // AIFC: compressionType fourcc follows the rate
          val codecOk =
            if (!aifc || (len >= 22 && tag(pos + 26, "NONE"))) {
              codec = 0
              bits == 8 || bits == 16 || bits == 24 || bits == 32
            } else if (len >= 22 && tag(pos + 26, "sowt")) {
              codec = 1; bits = 16; true
            } else if (len >= 22 && (tag(pos + 26, "ulaw") || tag(pos + 26, "ULAW"))) {
              codec = 2; bits = 16; true // expands to 16-bit linear
            } else if (len >= 22 && (tag(pos + 26, "alaw") || tag(pos + 26, "ALAW"))) {
              codec = 3; bits = 16; true
            } else if (len >= 22 && (tag(pos + 26, "fl32") || tag(pos + 26, "FL32"))) {
              codec = 4; bits = 32; true
            } else if (len >= 22 && (tag(pos + 26, "fl64") || tag(pos + 26, "FL64"))) {
              codec = 5; bits = 64; true
            } else false
          commOk = codecOk && channels > 0 && rate > 0
        } else if (tag(pos, "SSND") && len >= 8) {
          val off = u32(pos + 8)
          dataOff = (pos + 16 + off).toInt
          dataLen = len - 8 - off
        }
        pos += 8 + len.toInt + (len.toInt & 1)
      }
      if (!commOk || dataOff < 0) return None
      val bytesPer = codec match {
        case 0 => bits / 8
        case 1 => 2
        case 2 | 3 => 1
        case 4 => 4
        case _ => 8
      }
      val nSamples = math.min(frames * channels,
        math.min(dataLen, bytes.length.toLong - dataOff) / bytesPer)
      if (nSamples <= 0) return None
      Some((codec, channels, rate, bits, bytesPer, dataOff, nSamples))
    } catch { case _: Exception => None }
  }

  private[graft] def decodeAiff(bytes: Array[Byte],
      computeMean: Boolean = true): Option[DecodedAudioRaw] =
    aiffLayout(bytes).map { case (codec, channels, rate, bits, bytesPer, dataOff, nSamples) =>
      def u32(i: Int): Long = ((bytes(i) & 0xFFL) << 24) | ((bytes(i + 1) & 0xFFL) << 16) |
        ((bytes(i + 2) & 0xFFL) << 8) | (bytes(i + 3) & 0xFFL)
      val half = 1L << (bits - 1)
      val full = (1L << bits) - 1
      var sum = 0.0
      var idx = 0L
      while (computeMean && idx < nSamples) {
        val o = dataOff + (idx * bytesPer).toInt
        sum += (codec match {
          case 1 => // 16-bit little-endian two's complement
            val signed = (((bytes(o + 1) & 0xFF) << 8) | (bytes(o) & 0xFF)).toShort.toLong
            (signed + half).toDouble / full
          case 2 => (g711Ulaw(bytes(o) & 0xFF) + 32768).toDouble / 65535
          case 3 => (g711Alaw(bytes(o) & 0xFF) + 32768).toDouble / 65535
          case 4 =>
            val v = java.lang.Float.intBitsToFloat(u32(o).toInt)
            (v + 1.0) / 2.0
          case 5 =>
            val v = java.lang.Double.longBitsToDouble((u32(o) << 32) | u32(o + 4))
            (v + 1.0) / 2.0
          case _ =>
            var v = 0L
            var b = 0
            while (b < bytesPer) { v = (v << 8) | (bytes(o + b) & 0xFFL); b += 1 }
            val shift = 64 - bits
            val signed = (v << shift) >> shift // big-endian two's complement
            (signed + half).toDouble / full
        })
        idx += 1
      }
      DecodedAudioRaw(channels, rate, nSamples,
        (nSamples / channels).toDouble * 1000.0 / rate,
        if (computeMean) sum / nSamples else 0.0, bits)
    }

  /** REAL pure-Scala Sun/NeXT AU (.snd) decoder: big-endian header
    * (data offset/size, encoding, rate, channels), linear signed PCM
    * at 8/16/24/32 bits, plus G.711 µ-LAW and A-LAW — both decoded by
    * the published segment/mantissa FORMULAS (no tables: µ-law
    * magnitude = (((m << 3) + 0x84) << e) - 0x84 on the inverted
    * byte; a-law from the 0x55-xored byte), expanding to 16-bit
    * linear exactly as the JDK's converters do (pinned by the pluck
    * AU fixtures vs javax.sound).
    *
    * Layout tuple: (encoding, channels, rate, bits, bytesPer,
    * dataOff, nSamples); `bits` is the DECODED width (16 for G.711).
    * Shared by [[decodeAu]] and [[pcmView]]. */
  private def auLayout(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int, Int, Long)] = {
    if (bytes.length < 24) return None
    if (!(bytes(0) == '.'.toByte && bytes(1) == 's'.toByte &&
          bytes(2) == 'n'.toByte && bytes(3) == 'd'.toByte)) return None
    try {
      def u32(i: Int): Long = ((bytes(i) & 0xFFL) << 24) | ((bytes(i + 1) & 0xFFL) << 16) |
        ((bytes(i + 2) & 0xFFL) << 8) | (bytes(i + 3) & 0xFFL)
      val dataOff = u32(4).toInt
      val dataSize0 = u32(8)
      val encoding = u32(12).toInt
      val rate = u32(16).toInt
      val channels = u32(20).toInt
      if (dataOff < 24 || dataOff > bytes.length || rate <= 0 ||
          channels <= 0 || channels > 64) return None
      val avail = bytes.length.toLong - dataOff
      val dataLen = if (dataSize0 < 0 || dataSize0 > avail) avail else dataSize0
      val bytesPer = encoding match {
        case 1 | 27 => 1 // G.711 u-law / a-law
        case 2 => 1; case 3 => 2; case 4 => 3; case 5 => 4
        case _ => return None
      }
      val nSamples = dataLen / bytesPer
      if (nSamples <= 0) return None
      val bits = if (bytesPer == 1 && encoding != 2) 16 else bytesPer * 8
      Some((encoding, channels, rate, bits, bytesPer, dataOff, nSamples))
    } catch { case _: Exception => None }
  }

  private[graft] def decodeAu(bytes: Array[Byte],
      computeMean: Boolean = true): Option[DecodedAudioRaw] =
    auLayout(bytes).map { case (encoding, channels, rate, bits, bytesPer, dataOff, nSamples) =>
      val half = 1L << (bits - 1)
      val full = (1L << bits) - 1
      var sum = 0.0
      var idx = 0L
      while (computeMean && idx < nSamples) {
        val o = dataOff + (idx * bytesPer).toInt
        val signed: Long = encoding match {
          case 1 => g711Ulaw(bytes(o) & 0xFF)
          case 27 => g711Alaw(bytes(o) & 0xFF)
          case _ =>
            var v = 0L
            var b = 0
            while (b < bytesPer) { v = (v << 8) | (bytes(o + b) & 0xFFL); b += 1 }
            val shift = 64 - bytesPer * 8
            (v << shift) >> shift
        }
        sum += (signed + half).toDouble / full
        idx += 1
      }
      DecodedAudioRaw(channels, rate, nSamples,
        (nSamples / channels).toDouble * 1000.0 / rate,
        if (computeMean) sum / nSamples else 0.0, bits)
    }

  /** `bits` = PCM sample width (8/16/24/32) for WAV; 0 for compressed
    * sources where a PCM width is not meaningful. */
  private[graft] case class DecodedAudioRaw(channels: Int, rate: Int,
      nSamples: Long, durationMs: Double, meanLevel: Double, bits: Int = 0)

  /** Uniform random-access PCM view over WAV / AIFF / AIFF-C / AU:
    * (channels, rate, bits, nFrames, sampleU) where `sampleU(idx)` is
    * sample `idx` as the UNSIGNED offset-binary value in [0, 2^bits) —
    * the domain [[wavSampleU]] defines. G.711 sources expand to
    * 16-bit linear through the shared formulas; byte order is
    * per-container. IEEE-float sources return None (no exact integer
    * domain — the integer transforms that consume this view
    * deliberately skip them). Exactly the decoders' sample
    * arithmetic, factored for [[resampleAudio]] and
    * [[audioFingerprint]]. */
  private def pcmView(bytes: Array[Byte]): Option[(Int, Int, Int, Long, Long => Long)] = {
    def be(off: Int, bytesPer: Int, bits: Int)(idx: Long): Long = {
      val o = off + (idx * bytesPer).toInt
      var v = 0L
      var b = 0
      while (b < bytesPer) { v = (v << 8) | (bytes(o + b) & 0xFFL); b += 1 }
      val shift = 64 - bits
      ((v << shift) >> shift) + (1L << (bits - 1))
    }
    wavLayout(bytes) match {
      case Some((codec, ch, rate, bits, off, len)) => codec match {
        case 1 =>
          Some((ch, rate, bits, len / (bits / 8) / ch,
            idx => wavSampleU(bytes, off, bits, idx)))
        case 6 => Some((ch, rate, 16, len / ch,
          idx => g711Alaw(bytes(off + idx.toInt) & 0xFF) + 32768L))
        case 7 => Some((ch, rate, 16, len / ch,
          idx => g711Ulaw(bytes(off + idx.toInt) & 0xFF) + 32768L))
        case _ => None // IEEE float
      }
      case None => aiffLayout(bytes) match {
        case Some((codec, ch, rate, bits, bytesPer, off, nSamples)) => codec match {
          case 0 => Some((ch, rate, bits, nSamples / ch, be(off, bytesPer, bits)))
          case 1 => Some((ch, rate, 16, nSamples / ch, idx => {
            val o = off + (idx * 2).toInt
            (((bytes(o + 1) & 0xFF) << 8) | (bytes(o) & 0xFF)).toShort.toLong + 32768L
          }))
          case 2 => Some((ch, rate, 16, nSamples / ch,
            idx => g711Ulaw(bytes(off + idx.toInt) & 0xFF) + 32768L))
          case 3 => Some((ch, rate, 16, nSamples / ch,
            idx => g711Alaw(bytes(off + idx.toInt) & 0xFF) + 32768L))
          case _ => None // fl32 / fl64
        }
        case None => auLayout(bytes) match {
          case Some((encoding, ch, rate, bits, bytesPer, off, nSamples)) => encoding match {
            case 1 => Some((ch, rate, 16, nSamples / ch,
              idx => g711Ulaw(bytes(off + idx.toInt) & 0xFF) + 32768L))
            case 27 => Some((ch, rate, 16, nSamples / ch,
              idx => g711Alaw(bytes(off + idx.toInt) & 0xFF) + 32768L))
            case _ => Some((ch, rate, bits, nSamples / ch, be(off, bytesPer, bits)))
          }
          case None => None
        }
      }
    }
  }

  case class AudioFp(doc_id: Long, afp: Long, afp_bits: String)

  /** 64-bit audio difference-fingerprint over every integer-PCM
    * source [[pcmView]] covers (WAV, AIFF/AIFF-C, AU, G.711 in any of
    * them) — the audio sibling of [[imageDHash]]: 65 equal-split
    * sample windows (window i = samples [i*n/65, (i+1)*n/65), integer
    * boundaries), bit k = "window k+1 louder than window k", decided
    * by EXACT integer cross-multiplication `sum(k+1)*len(k) >
    * sum(k)*len(k+1)` over the unsigned sample values — no float
    * anywhere, so the oracle replays every bit from planted sample
    * formulas. The same recording u-law-compressed fingerprints ~the
    * same (G.711 is monotone, and the comparisons are ordinal).
    * Windows empty at short n compare 0 > 0 = false,
    * deterministically. Unrecognized / float payloads emit bits = ""
    * (never a fake fingerprint). Near-dup pairs via
    * [[Dedup.hash64NearDups]]. */
  def audioFingerprint(ds: Dataset[MediaRow]): Dataset[AudioFp] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.map { r =>
        pcmView(r.content) match {
          case None => AudioFp(r.doc_id, 0L, "")
          case Some((channels, _, _, nFrames, sampleU)) =>
            val nSamples = nFrames * channels
            val sums = new Array[Long](65)
            val lens = new Array[Long](65)
            var i = 0
            while (i < 65) {
              val b0 = i * nSamples / 65
              val b1 = (i + 1) * nSamples / 65
              lens(i) = b1 - b0
              var idx = b0
              while (idx < b1) {
                sums(i) += sampleU(idx)
                idx += 1
              }
              i += 1
            }
            var hash = 0L
            val sb = new java.lang.StringBuilder(64)
            var k = 0
            while (k < 64) {
              val b = sums(k + 1) * lens(k) > sums(k) * lens(k + 1)
              hash = (hash << 1) | (if (b) 1L else 0L)
              sb.append(if (b) '1' else '0')
              k += 1
            }
            AudioFp(r.doc_id, hash, sb.toString)
        }
      }
    }
  }

  /** Batched audio decode: WAV/PCM decodes for REAL through the parser
    * above; payloads no parser recognizes fall back to a deterministic
    * stub with the same output contract (byte-sum derived, externally
    * recomputable) — swap in ffmpeg/JNI there for compressed codecs. */
  def decodeAudio(ds: Dataset[MediaRow]): Dataset[DecodedAudio] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.map { r =>
        decodeWav(r.content).orElse(decodeAiff(r.content))
          .orElse(decodeAu(r.content))
          .orElse(decodeMp3Layer1(r.content))
          .orElse(decodeMp3Layer2(r.content))
          .orElse(decodeMp3Layer3(r.content))
          .orElse(decodeAacLc(r.content))
          .orElse(aacFromMp4(r.content).flatMap(decodeAacLc(_))) match {
          case Some(a) => DecodedAudio(r.doc_id, a.channels, a.rate,
            a.nSamples, a.durationMs, a.meanLevel)
          case None =>
            val (_, _, _, mean) = fakeDecode(r.content)
            DecodedAudio(r.doc_id, 1, 8000, r.content.length.toLong,
              r.content.length.toDouble * 1000.0 / 8000, mean / 255.0)
        }
      }
    }
  }

  /** REAL pure-Scala AVI (RIFF) metadata extraction: the `avih` main
    * header carries frame timing, frame count and dims — extracted
    * without decoding any frame payload (the honest contract for a
    * container whose codecs live behind ffmpeg in production). None for
    * non-AVI payloads. */
  private[graft] def aviMeta(bytes: Array[Byte]): Option[(Int, Int, Long, Double)] = {
    if (bytes.length < 64) return None
    def tag(i: Int, s: String) = bytes.length >= i + 4 &&
      bytes(i) == s(0).toByte && bytes(i + 1) == s(1).toByte &&
      bytes(i + 2) == s(2).toByte && bytes(i + 3) == s(3).toByte
    if (!tag(0, "RIFF") || !tag(8, "AVI ")) return None
    def u32(i: Int) = (bytes(i) & 0xFF).toLong | ((bytes(i + 1) & 0xFF).toLong << 8) |
      ((bytes(i + 2) & 0xFF).toLong << 16) | ((bytes(i + 3) & 0xFF).toLong << 24)
    // scan for the avih chunk (inside LIST hdrl, but a linear tag scan
    // is robust to writer padding variations)
    var i = 12
    while (i + 8 <= bytes.length) {
      if (tag(i, "avih") && i + 8 + 40 <= bytes.length) {
        val usPerFrame = u32(i + 8)
        val totalFrames = u32(i + 8 + 16)
        val w = u32(i + 8 + 32).toInt
        val h = u32(i + 8 + 36).toInt
        val fps = if (usPerFrame == 0) 0.0 else 1e6 / usPerFrame
        return Some((w, h, totalFrames, fps))
      }
      i += 2 // RIFF chunks are 2-byte aligned
    }
    None
  }

  /** REAL pure-Scala MP3 container metadata — frame-header walk, no
    * audio decoding (public spec: ISO/IEC 11172-3 / 13818-3 frame
    * headers). Skips an ID3v2 prefix (syncsafe length), locates the
    * first valid Layer III frame sync, then walks frame to frame:
    * per-frame length = samplesPerFrame/8 × bitrate ÷ sampleRate +
    * padding, so VBR streams sum durations correctly. Reports the
    * FIRST frame's bitrate (CBR assumption for the single reported
    * number; duration is per-frame exact either way). None when no
    * valid frame is found — decoding actual audio samples stays behind
    * the documented codec stub. */
  private[graft] def mp3Meta(bytes: Array[Byte]): Option[Mp3Meta] = {
    if (bytes.length < 4) return None
    var off = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val sz = ((bytes(6) & 0x7F) << 21) | ((bytes(7) & 0x7F) << 14) |
        ((bytes(8) & 0x7F) << 7) | (bytes(9) & 0x7F)
      off = 10 + sz
      if (off < 0 || off >= bytes.length) return None
    }
    // (versionBits, bitrateKbps, sampleRate, padding, channels) of a
    // valid Layer III header at i, else null
    def hdrAt(i: Int): Array[Int] = {
      if (i + 4 > bytes.length) return null
      if ((bytes(i) & 0xFF) != 0xFF || (bytes(i + 1) & 0xE0) != 0xE0) return null
      val ver = (bytes(i + 1) >> 3) & 0x3   // 0=MPEG2.5 2=MPEG2 3=MPEG1
      val lay = (bytes(i + 1) >> 1) & 0x3   // 1=Layer III
      val brI = (bytes(i + 2) >> 4) & 0xF
      val srI = (bytes(i + 2) >> 2) & 0x3
      val pad = (bytes(i + 2) >> 1) & 0x1
      val ch = if (((bytes(i + 3) >> 6) & 0x3) == 3) 1 else 2
      if (ver == 1 || lay != 1 || brI == 0 || brI == 15 || srI == 3) return null
      val kbps = (if (ver == 3) Mp3BitratesV1 else Mp3BitratesV2)(brI)
      val rate = (ver match {
        case 3 => Array(44100, 48000, 32000)
        case 2 => Array(22050, 24000, 16000)
        case _ => Array(11025, 12000, 8000)
      })(srI)
      Array(ver, kbps, rate, pad, ch)
    }
    // resync requires the NEXT frame header to land where the first
    // one's length predicts (or the first frame to run to EOF) — the
    // standard MP3 sniffing rule. A single plausible 4-byte pattern
    // in arbitrary binary is common (~1 hit/KB of noise, caught by
    // MediaFuzzSpec); two chained headers essentially never are.
    def chainOk(j: Int, hh: Array[Int]): Boolean = {
      val spf = if (hh(0) == 3) 1152 else 576
      val len = (spf / 8) * hh(1) * 1000 / hh(2) + hh(3)
      // a single-frame file (frame runs to EOF) only counts when the
      // frame starts AT the stream start — a mid-payload "header"
      // whose length conveniently clears EOF is how noise sneaks in
      len > 4 && (hdrAt(j + len) != null || (j == off && j + len >= bytes.length))
    }
    var i = off
    var h = hdrAt(i)
    while ((h == null || !chainOk(i, h)) && i + 4 <= bytes.length) {
      i += 1; h = hdrAt(i)
    }
    if (h == null || !chainOk(i, h)) return None
    val first = h
    var frames = 0L
    var durMs = 0.0
    while (h != null) {
      val spf = if (h(0) == 3) 1152 else 576
      frames += 1
      durMs += spf * 1000.0 / h(2)
      val len = (spf / 8) * h(1) * 1000 / h(2) + h(3)
      if (len <= 4) h = null
      else { i += len; h = hdrAt(i) }
    }
    Some(Mp3Meta(if (first(0) == 3) "MPEG1" else if (first(0) == 2) "MPEG2" else "MPEG2.5",
      first(1), first(2), first(4), frames, durMs))
  }
  private val Mp3BitratesV1 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val Mp3BitratesV2 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
  private val L1BitratesV1 =
    Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448, 0)

  /** REAL pure-Scala MPEG-1 Audio Layer I decoder (public spec ISO/IEC
    * 11172-3 §2.4): ID3v2 skip, frame-header walk, bit-exact payload
    * decode — 4-bit allocations, 6-bit scalefactor indices, then 12
    * granules of (alloc+1)-bit offset-binary subband codes, requantized
    * per the spec formula
    *   s' = ((2c + 1 - 2^nb) / 2^nb) * (2^nb / (2^nb - 1)) * sf,
    * with the scalefactor table generated from its defining geometric
    * law sf(idx) = 2 * 2^(-idx/3) (Table B.1). The output is the
    * decoded signal in the 32-band analysis domain: the final
    * polyphase synthesis that interleaves subband samples to PCM needs
    * the 512 tabulated Annex-B window constants, so level/energy
    * features are computed in the subband domain, where the filterbank
    * is ~orthonormal (unallocated subbands contribute zeros).
    * `mean_level` = mean |s'| / 2, normalized to [0, 1] by the max
    * scalefactor. Mono, stereo and dual-channel; intensity (joint)
    * stereo and Layer II/III payloads return None (those decode via
    * [[decodeMp3Layer2]] / [[decodeMp3Layer3]] in the
    * [[decodeAudio]] chain). */
  private[graft] def decodeMp3Layer1(bytes: Array[Byte]): Option[DecodedAudioRaw] = {
    if (bytes.length < 4) return None
    var off = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val sz = ((bytes(6) & 0x7F) << 21) | ((bytes(7) & 0x7F) << 14) |
        ((bytes(8) & 0x7F) << 7) | (bytes(9) & 0x7F)
      off = 10 + sz
      if (off < 0 || off >= bytes.length) return None
    }
    try {
      var i = off
      var frames = 0L
      var rate0 = 0; var ch0 = 0
      var sumAbs = 0.0
      while (i + 4 <= bytes.length) {
        if ((bytes(i) & 0xFF) != 0xFF || (bytes(i + 1) & 0xE0) != 0xE0) {
          if (frames == 0) return None else i = bytes.length // trailing junk ends walk
        } else {
          val ver = (bytes(i + 1) >> 3) & 0x3
          val lay = (bytes(i + 1) >> 1) & 0x3 // 3 = Layer I
          val prot = bytes(i + 1) & 0x1       // 0 = CRC present
          val brI = (bytes(i + 2) >> 4) & 0xF
          val srI = (bytes(i + 2) >> 2) & 0x3
          val pad = (bytes(i + 2) >> 1) & 0x1
          val mode = (bytes(i + 3) >> 6) & 0x3 // 0 stereo 1 joint 2 dual 3 mono
          if (ver != 3 || lay != 3 || brI == 0 || brI == 15 || srI == 3 || mode == 1)
            return None
          val kbps = L1BitratesV1(brI)
          val rate = Array(44100, 48000, 32000)(srI)
          val channels = if (mode == 3) 1 else 2
          if (frames == 0) { rate0 = rate; ch0 = channels }
          val frameLen = (12 * kbps * 1000 / rate + pad) * 4
          if (i + frameLen > bytes.length) return None
          // MSB-first bit reader over the frame payload
          var bitPos = (i + 4 + (if (prot == 0) 2 else 0)) * 8
          val bitEnd = (i + frameLen) * 8
          def read(n: Int): Int = {
            if (bitPos + n > bitEnd) throw new IllegalArgumentException("payload underrun")
            var v = 0; var r = n
            while (r > 0) {
              val byteI = bitPos >> 3; val bitI = 7 - (bitPos & 7)
              v = (v << 1) | ((bytes(byteI) >> bitI) & 1)
              bitPos += 1; r -= 1
            }
            v
          }
          val alloc = Array.ofDim[Int](channels, 32)
          var sb = 0
          while (sb < 32) {
            var c = 0
            while (c < channels) {
              alloc(c)(sb) = read(4)
              if (alloc(c)(sb) == 15) return None // forbidden
              c += 1
            }
            sb += 1
          }
          val sf = Array.ofDim[Double](channels, 32)
          sb = 0
          while (sb < 32) {
            var c = 0
            while (c < channels) {
              if (alloc(c)(sb) != 0)
                sf(c)(sb) = 2.0 * math.pow(2.0, -read(6) / 3.0)
              c += 1
            }
            sb += 1
          }
          var g = 0
          while (g < 12) {
            sb = 0
            while (sb < 32) {
              var c = 0
              while (c < channels) {
                if (alloc(c)(sb) != 0) {
                  val nb = alloc(c)(sb) + 1
                  val code = read(nb)
                  val pow2 = (1L << nb).toDouble
                  val s = (2.0 * code + 1.0 - pow2) / pow2 * (pow2 / (pow2 - 1.0)) * sf(c)(sb)
                  sumAbs += math.abs(s)
                }
                c += 1
              }
              sb += 1
            }
            g += 1
          }
          frames += 1
          i += frameLen
        }
      }
      if (frames == 0) None
      else {
        val nSamples = 384L * ch0 * frames
        Some(DecodedAudioRaw(ch0, rate0, nSamples,
          frames * 384000.0 / rate0, sumAbs / nSamples / 2.0))
      }
    } catch { case _: Exception => None }
  }

  private val L2BitratesV1 =
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384, 0)
  // ISO 11172-3 Table B.2 quantization-step ladders, shared by the four
  // allocation tables. An entry's position+1 is the allocation index;
  // nbal (allocation field width) falls out of the ladder length
  // (15 -> 4 bits, 7 -> 3, 3 -> 2).
  private val L2StepsTop = Array(3, 7, 15, 31, 63, 127, 255, 511, 1023,
    2047, 4095, 8191, 16383, 32767, 65535)                      // B.2a/b sb 0-2
  private val L2StepsMid = Array(3, 5, 7, 9, 15, 31, 63, 127, 255, 511,
    1023, 2047, 4095, 8191, 65535)                              // B.2a/b sb 3-10
  private val L2StepsHigh = Array(3, 5, 7, 9, 15, 31, 65535)    // B.2a/b sb 11-22
  private val L2StepsTail = Array(3, 5, 65535)                  // B.2a/b sb 23+
  private val L2StepsLoTop = Array(3, 5, 9, 15, 31, 63, 127, 255, 511,
    1023, 2047, 4095, 8191, 16383, 32767)                       // B.2c/d sb 0-1
  private val L2StepsLo = Array(3, 5, 9, 15, 31, 63, 127)       // B.2c/d sb 2+

  /** Allocation-table selection per ISO 11172-3 §2.4.2.6: (sblimit,
    * subband -> step ladder), keyed on sampling rate and bitrate PER
    * CHANNEL. */
  private def l2AllocTable(rate: Int, kbpsPerCh: Int): (Int, Int => Array[Int]) = {
    def ab(sb: Int) = if (sb < 3) L2StepsTop else if (sb < 11) L2StepsMid
      else if (sb < 23) L2StepsHigh else L2StepsTail
    def cd(sb: Int) = if (sb < 2) L2StepsLoTop else L2StepsLo
    if ((rate == 48000 && kbpsPerCh >= 56) || (kbpsPerCh >= 56 && kbpsPerCh <= 80))
      (27, ab)                                    // Table B.2a
    else if (rate != 48000 && kbpsPerCh >= 96) (30, ab) // Table B.2b
    else if (rate != 32000 && kbpsPerCh <= 48) (8, cd)  // Table B.2c
    else (12, cd)                                 // Table B.2d
  }

  /** REAL pure-Scala MPEG-1 Audio Layer II decoder (public spec
    * ISO/IEC 11172-3 §2.4.1.6/2.4.2.6): frame-header walk, then a
    * bit-exact payload decode — per-subband allocation fields whose
    * width and step count come from the selected Table B.2 ladder,
    * 2-bit scfsi selecting 1-3 transmitted scalefactors per subband
    * (parts of 4 granules each), and 12 granules of 3 samples where
    * the 3/5/9-step classes arrive GROUPED (one 5/7/10-bit base-steps
    * codeword for the triplet) and every other class arrives as three
    * log2(steps+1)-bit codes. Requantization is the uniform midtread
    * law s' = ((2c + 1 - steps) / steps) * sf — algebraically equal to
    * the spec's C*(s'''+D) classed form for every Layer II step count
    * — with sf = 2 * 2^(-idx/3) from Table B.1. Output is in the
    * 32-band analysis domain like [[decodeMp3Layer1]] (the polyphase
    * synthesis window is tabulated, not derivable). Mono, stereo and
    * dual channel; intensity (joint) stereo and MPEG-2 LSF return
    * None; Layer III decodes via [[decodeMp3Layer3]] in the
    * [[decodeAudio]] chain. */
  private[graft] def decodeMp3Layer2(bytes: Array[Byte]): Option[DecodedAudioRaw] = {
    if (bytes.length < 4) return None
    var off = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val sz = ((bytes(6) & 0x7F) << 21) | ((bytes(7) & 0x7F) << 14) |
        ((bytes(8) & 0x7F) << 7) | (bytes(9) & 0x7F)
      off = 10 + sz
      if (off < 0 || off >= bytes.length) return None
    }
    try {
      var i = off
      var frames = 0L
      var rate0 = 0; var ch0 = 0
      var sumAbs = 0.0
      while (i + 4 <= bytes.length) {
        if ((bytes(i) & 0xFF) != 0xFF || (bytes(i + 1) & 0xE0) != 0xE0) {
          if (frames == 0) return None else i = bytes.length // trailing junk
        } else {
          val ver = (bytes(i + 1) >> 3) & 0x3
          val lay = (bytes(i + 1) >> 1) & 0x3 // 2 = Layer II
          val prot = bytes(i + 1) & 0x1
          val brI = (bytes(i + 2) >> 4) & 0xF
          val srI = (bytes(i + 2) >> 2) & 0x3
          val pad = (bytes(i + 2) >> 1) & 0x1
          val mode = (bytes(i + 3) >> 6) & 0x3
          if (ver != 3 || lay != 2 || brI == 0 || brI == 15 || srI == 3 || mode == 1)
            return None
          val kbps = L2BitratesV1(brI)
          val rate = Array(44100, 48000, 32000)(srI)
          val channels = if (mode == 3) 1 else 2
          if (frames == 0) { rate0 = rate; ch0 = channels }
          val frameLen = 144 * kbps * 1000 / rate + pad
          if (i + frameLen > bytes.length) return None
          val (sblimit, ladder) = l2AllocTable(rate, kbps / channels)
          var bitPos = (i + 4 + (if (prot == 0) 2 else 0)) * 8
          val bitEnd = (i + frameLen) * 8
          def read(n: Int): Int = {
            if (bitPos + n > bitEnd) throw new IllegalArgumentException("payload underrun")
            var v = 0; var r = n
            while (r > 0) {
              val byteI = bitPos >> 3; val bitI = 7 - (bitPos & 7)
              v = (v << 1) | ((bytes(byteI) >> bitI) & 1)
              bitPos += 1; r -= 1
            }
            v
          }
          def nbal(sb: Int) = ladder(sb).length match {
            case 15 => 4; case 7 => 3; case _ => 2
          }
          val steps = Array.ofDim[Int](channels, sblimit) // 0 = unallocated
          var sb = 0
          while (sb < sblimit) {
            var c = 0
            while (c < channels) {
              val a = read(nbal(sb))
              steps(c)(sb) = if (a == 0) 0 else ladder(sb)(a - 1)
              c += 1
            }
            sb += 1
          }
          val scfsi = Array.ofDim[Int](channels, sblimit)
          sb = 0
          while (sb < sblimit) {
            var c = 0
            while (c < channels) {
              if (steps(c)(sb) != 0) scfsi(c)(sb) = read(2)
              c += 1
            }
            sb += 1
          }
          // sf(part) for the three 4-granule parts, per Table B.1 law
          val sf = Array.ofDim[Double](channels, sblimit, 3)
          def sfVal() = 2.0 * math.pow(2.0, -read(6) / 3.0)
          sb = 0
          while (sb < sblimit) {
            var c = 0
            while (c < channels) {
              if (steps(c)(sb) != 0) scfsi(c)(sb) match {
                case 0 =>
                  sf(c)(sb)(0) = sfVal(); sf(c)(sb)(1) = sfVal(); sf(c)(sb)(2) = sfVal()
                case 1 =>
                  val a = sfVal(); val b = sfVal()
                  sf(c)(sb)(0) = a; sf(c)(sb)(1) = a; sf(c)(sb)(2) = b
                case 2 =>
                  val a = sfVal()
                  sf(c)(sb)(0) = a; sf(c)(sb)(1) = a; sf(c)(sb)(2) = a
                case _ =>
                  val a = sfVal(); val b = sfVal()
                  sf(c)(sb)(0) = a; sf(c)(sb)(1) = b; sf(c)(sb)(2) = b
              }
              c += 1
            }
            sb += 1
          }
          def requant(code: Int, st: Int, scale: Double): Double =
            (2.0 * code + 1.0 - st) / st * scale
          var g = 0
          while (g < 12) {
            val part = g >> 2
            sb = 0
            while (sb < sblimit) {
              var c = 0
              while (c < channels) {
                val st = steps(c)(sb)
                if (st != 0) {
                  val scale = sf(c)(sb)(part)
                  if (st == 3 || st == 5 || st == 9) { // grouped triplet
                    val gbits = if (st == 3) 5 else if (st == 5) 7 else 10
                    var v = read(gbits)
                    var k = 0
                    while (k < 3) {
                      sumAbs += math.abs(requant(v % st, st, scale))
                      v /= st; k += 1
                    }
                  } else {
                    val nb = 32 - Integer.numberOfLeadingZeros(st) // steps = 2^nb - 1
                    var k = 0
                    while (k < 3) {
                      sumAbs += math.abs(requant(read(nb), st, scale))
                      k += 1
                    }
                  }
                }
                c += 1
              }
              sb += 1
            }
            g += 1
          }
          frames += 1
          i += frameLen
        }
      }
      if (frames == 0) None
      else {
        val nSamples = 1152L * ch0 * frames
        Some(DecodedAudioRaw(ch0, rate0, nSamples,
          frames * 1152000.0 / rate0, sumAbs / nSamples / 2.0))
      }
    } catch { case _: Exception => None }
  }

  // ---- MPEG-1 Audio Layer III (public spec ISO/IEC 11172-3 §2.4.1.7,
  //      §2.4.2.7, §2.4.3.4, Annex B) ---------------------------------

  /** Long-block scalefactor-band boundaries (spectral line index per
    * band start, 22 bands + end) per MPEG-1 sampling rate — Table B.8. */
  private val L3SfbLong: Map[Int, Array[Int]] = Map(
    44100 -> Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90,
      110, 134, 162, 196, 238, 288, 342, 418, 576),
    48000 -> Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88,
      106, 128, 156, 190, 230, 276, 330, 384, 576),
    32000 -> Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102,
      126, 156, 194, 240, 296, 364, 448, 550, 576))

  /** Short-block scalefactor band boundaries (12 bands + end, per
    * window) per MPEG-1 sampling rate — Table B.8. */
  private val L3SfbShort: Map[Int, Array[Int]] = Map(
    44100 -> Array(0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192),
    48000 -> Array(0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126, 192),
    32000 -> Array(0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180, 192))

  /** scalefac_compress -> (slen1 for sfb 0-10, slen2 for sfb 11-20). */
  private val L3Slen: Array[(Int, Int)] = Array(
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3))

  /** preflag scalefactor offsets per long sfb (Table B.6). */
  private val L3Pretab: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2)

  /** REAL pure-Scala MPEG-1 Audio Layer III payload decoder: ID3v2
    * skip, frame-header walk, side-info parse (main_data_begin,
    * scfsi, per-granule part2_3_length / big_values / global_gain /
    * scalefac_compress / table_select / region counts / preflag /
    * scalefac_scale), a REAL bit reservoir (each frame's main data
    * accumulates in a rolling buffer; main_data_begin indexes
    * backwards into it), long-block scalefactor read with scfsi
    * sharing, Huffman decode of the big_values spectrum, count1
    * quadruple decode, and the spec requantization power law
    *   |xr| = |is|^(4/3) * 2^((global_gain-210)/4)
    *               * 2^(-(scalefac_scale+1)/2 * (scalefac + preflag*pretab))
    * (§2.4.3.4). Output is in the SPECTRAL (MDCT) domain: like the
    * L1/L2 decoders stop at the 32-band analysis domain, the level
    * feature sums |xr| before IMDCT/synthesis — the filterbank is
    * energy-preserving, and the synthesis window is a tabulated
    * Annex-B constant block this codebase deliberately doesn't
    * retype. mean_level = mean |xr| / 2.
    *
    * Window switching decodes for real: short blocks (block_type 2 —
    * per-window scalefactors, subblock gains, the window-interleaved
    * band order of Table B.8), MIXED blocks (lines 0..35 through the
    * long band map, the rest short), and the long start/stop types
    * (1, 3 — spectrally identical to normal long blocks), with the
    * implicit region bounds of §2.4.2.7. Joint stereo decodes for
    * real in every mode_extension state: MS (bit 1: l/r reconstructed
    * as (m±s)/sqrt2 from both channels' signed spectra) and INTENSITY
    * positioning (bit 0, long-block granules: bands above the right
    * channel's zero boundary split the left spectrum by
    * ratio = tan(is_pos*pi/12) — a spec FORMULA, not a table — with
    * is_pos read from the right channel's scalefactors, is_pos = 7
    * falling back to MS/plain per band, and the sfb21 tail reusing
    * band 20's position).
    *
    * Spec-table subset, documented: Huffman pair tables 0 (all-zero)
    * and 1, and count1 table B (4-bit one's-complement codes) are
    * implemented; frames selecting the larger tabulated pair tables
    * (2-31), count1 table A, intensity stereo on SHORT-block
    * granules, or MPEG-2/2.5 LSF return None and fall
    * through to the container metadata path — same
    * partial-by-documentation contract as the WebP-class codec
    * filters in the reference (tiledb/filter.py:690). */
  private[graft] def decodeMp3Layer3(bytes: Array[Byte]): Option[DecodedAudioRaw] = {
    if (bytes.length < 4) return None
    var off = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val sz = ((bytes(6) & 0x7F) << 21) | ((bytes(7) & 0x7F) << 14) |
        ((bytes(8) & 0x7F) << 7) | (bytes(9) & 0x7F)
      off = 10 + sz
      if (off < 0 || off >= bytes.length) return None
    }
    try {
      var i = off
      var frames = 0L
      var rate0 = 0; var ch0 = 0
      var sumAbs = 0.0
      // bit reservoir: main-data bytes of frames seen so far (trimmed —
      // main_data_begin is 9 bits, so at most 511 bytes reach back)
      var reservoir = new Array[Byte](0)
      while (i + 4 <= bytes.length) {
        if ((bytes(i) & 0xFF) != 0xFF || (bytes(i + 1) & 0xE0) != 0xE0) {
          if (frames == 0) return None else i = bytes.length // trailing junk
        } else {
          val ver = (bytes(i + 1) >> 3) & 0x3
          val lay = (bytes(i + 1) >> 1) & 0x3 // 1 = Layer III
          val prot = bytes(i + 1) & 0x1
          val brI = (bytes(i + 2) >> 4) & 0xF
          val srI = (bytes(i + 2) >> 2) & 0x3
          val pad = (bytes(i + 2) >> 1) & 0x1
          val mode = (bytes(i + 3) >> 6) & 0x3
          val modeExt = (bytes(i + 3) >> 4) & 0x3
          // joint stereo decodes for real in ALL four mode_extension
          // states: 0 = plain stereo, bit 1 = MS, bit 0 = intensity
          // positioning (long-block granules — §2.4.3.4.9.3's
          // tan(is_pos*pi/12) split is a FORMULA, not a spec table,
          // so it sits inside the no-transcription boundary; intensity
          // with short blocks stays declined below)
          if (ver != 3 || lay != 1 || brI == 0 || brI == 15 || srI == 3)
            return None
          val msStereo = mode == 1 && (modeExt & 2) != 0
          val intensity = mode == 1 && (modeExt & 1) != 0
          val kbps = Mp3BitratesV1(brI)
          val rate = Array(44100, 48000, 32000)(srI)
          val channels = if (mode == 3) 1 else 2
          if (frames == 0) { rate0 = rate; ch0 = channels }
          val frameLen = 144 * kbps * 1000 / rate + pad
          if (i + frameLen > bytes.length) return None
          val sfb = L3SfbLong(rate)
          // ---- side info ----
          val sideStart = i + 4 + (if (prot == 0) 2 else 0)
          val sideLen = if (channels == 1) 17 else 32
          var sPos = sideStart * 8
          def sbits(n: Int): Int = {
            var v = 0; var r = n
            while (r > 0) {
              v = (v << 1) | ((bytes(sPos >> 3) >> (7 - (sPos & 7))) & 1)
              sPos += 1; r -= 1
            }
            v
          }
          val mainDataBegin = sbits(9)
          sbits(if (channels == 1) 5 else 3) // private_bits
          val scfsi = Array.ofDim[Int](channels, 4)
          for (c <- 0 until channels; b <- 0 until 4) scfsi(c)(b) = sbits(1)
          case class Gr(part23: Int, bigValues: Int, globalGain: Int,
              sfCompress: Int, tables: Array[Int], region0: Int, region1: Int,
              preflag: Int, sfScale: Int, count1Table: Int,
              blockType: Int, mixed: Int, sbg: Array[Int])
          val grs = Array.ofDim[Gr](2, channels)
          for (g <- 0 until 2; c <- 0 until channels) {
            val part23 = sbits(12)
            val bigValues = sbits(9)
            val globalGain = sbits(8)
            val sfCompress = sbits(4)
            val winSwitch = sbits(1)
            if (winSwitch != 0) {
              // window switching (§2.4.1.7): block_type + mixed flag,
              // TWO table selects, 3 subblock gains; region counts are
              // implicit (region0 = 8 short / 7 start-stop, region2
              // empty). Short blocks (plain AND mixed — mixed keeps
              // the first 36 lines long, the rest short) and the long
              // start/stop types (1, 3 — same spectral decode as
              // normal long, only the IMDCT window differs) are all in
              // the subset; mixed is only legal with block_type 2.
              val blockType = sbits(2)
              val mixed = sbits(1)
              val tables = Array(sbits(5), sbits(5), 0)
              val sbg = Array(sbits(3), sbits(3), sbits(3))
              if (blockType == 0 || (mixed == 1 && blockType != 2)) return None
              val preflag = sbits(1)
              val sfScale = sbits(1)
              val count1Table = sbits(1)
              grs(g)(c) = Gr(part23, bigValues, globalGain, sfCompress,
                tables, if (blockType == 2) 8 else 7, 20,
                preflag, sfScale, count1Table, blockType, mixed, sbg)
            } else {
              val tables = Array(sbits(5), sbits(5), sbits(5))
              val region0 = sbits(4)
              val region1 = sbits(3)
              val preflag = sbits(1)
              val sfScale = sbits(1)
              val count1Table = sbits(1)
              grs(g)(c) = Gr(part23, bigValues, globalGain, sfCompress,
                tables, region0, region1, preflag, sfScale, count1Table, 0, 0, null)
            }
          }
          // intensity positioning is implemented for LONG-block
          // granules (the per-window is_pos bookkeeping of short
          // blocks stays out of the documented subset)
          if (intensity && grs.exists(_.exists(_.blockType == 2))) return None
          // ---- main data via the reservoir ----
          val mainStart = sideStart + sideLen
          val mainLen = i + frameLen - mainStart
          if (mainLen < 0) return None
          val resLen = reservoir.length
          if (mainDataBegin > resLen) return None // mid-stream start
          val combined = new Array[Byte](resLen + mainLen)
          System.arraycopy(reservoir, 0, combined, 0, resLen)
          System.arraycopy(bytes, mainStart, combined, resLen, mainLen)
          var mPos = (resLen - mainDataBegin) * 8
          def mbits(n: Int): Int = {
            if (mPos + n > combined.length * 8)
              throw new IllegalArgumentException("main data underrun")
            var v = 0; var r = n
            while (r > 0) {
              v = (v << 1) | ((combined(mPos >> 3) >> (7 - (mPos & 7))) & 1)
              mPos += 1; r -= 1
            }
            v
          }
          // previous granule's scalefactors (for scfsi sharing)
          val sfPrev = Array.ofDim[Int](channels, 21)
          val sfbS = L3SfbShort(rate)
          for (g <- 0 until 2) {
            // MS recombination needs both channels' SIGNED spectra, so
            // the granule decodes into per-channel line buffers and
            // accumulates after the channel loop (line order — the
            // same summation order as the pre-MS accumulation)
            val xrs = Array.ofDim[Double](channels, 576)
            // long scalefactors per channel survive the channel loop:
            // intensity positioning reads the RIGHT channel's values
            // as is_pos after both channels decode
            val sfLongs = Array.ofDim[Int](channels, 21)
            for (c <- 0 until channels) {
              val gr = grs(g)(c)
              val xr = xrs(c)
              val grEnd = mPos + gr.part23
              val isShort = gr.blockType == 2 && gr.mixed == 0
              val isMixed = gr.blockType == 2 && gr.mixed == 1
              val (slen1, slen2) = L3Slen(gr.sfCompress)
              val sf = new Array[Int](21)
              val sfS = Array.ofDim[Int](3, 12)
              if (isShort) {
                // short: sfb 0-5 slen1 / 6-11 slen2, each x 3 windows;
                // scalefactors always transmitted (no scfsi for short)
                for (s <- 0 until 12; w <- 0 until 3) {
                  val slen = if (s < 6) slen1 else slen2
                  sfS(w)(s) = if (slen == 0) 0 else mbits(slen)
                }
              } else if (isMixed) {
                // mixed (§2.4.2.7): long sfb 0-7 (slen1), then short
                // sfb 3-11 per window (3-5 slen1, 6-11 slen2) — the
                // long low bands cover lines 0..35, short bands take
                // over exactly at line 36 = 3 * sfbShort(3)
                for (s <- 0 until 8)
                  sf(s) = if (slen1 == 0) 0 else mbits(slen1)
                for (s <- 3 until 12; w <- 0 until 3) {
                  val slen = if (s < 6) slen1 else slen2
                  sfS(w)(s) = if (slen == 0) 0 else mbits(slen)
                }
              } else {
                // long (incl. start/stop types 1 and 3): sfb 0-10
                // slen1 bits, 11-20 slen2; scfsi band b shared =>
                // granule 1 reuses granule 0's values
                val bandOf = (s: Int) =>
                  if (s < 6) 0 else if (s < 11) 1 else if (s < 16) 2 else 3
                var s = 0
                while (s < 21) {
                  val slen = if (s < 11) slen1 else slen2
                  if (g == 1 && scfsi(c)(bandOf(s)) == 1) sf(s) = sfPrev(c)(s)
                  else sf(s) = if (slen == 0) 0 else mbits(slen)
                  s += 1
                }
                System.arraycopy(sf, 0, sfPrev(c), 0, 21)
              }
              System.arraycopy(sf, 0, sfLongs(c), 0, 21)
              // requantization constants (§2.4.3.4); short windows add
              // the subblock-gain shift 2^(-2*subblock_gain[w]) and
              // take no pretab
              val mult = (gr.sfScale + 1) * 0.5
              val gain = (gr.globalGain - 210) / 4.0
              def level(m: Int, line: Int): Double =
                if (m == 0) 0.0
                else if (isShort || (isMixed && line >= 36)) {
                  // bitstream order: per sfb the 3 windows' widths lie
                  // consecutively, so window = offset / width
                  var s = 0
                  while (3 * sfbS(s + 1) <= line) s += 1
                  val width = sfbS(s + 1) - sfbS(s)
                  val w = (line - 3 * sfbS(s)) / width
                  val sfv = if (s < 12) sfS(w)(s) else 0
                  math.pow(m, 4.0 / 3.0) *
                    math.pow(2.0, gain - 2.0 * gr.sbg(w) - mult * sfv)
                } else {
                  var b = 0
                  while (sfb(b + 1) <= line) b += 1 // line < 576 always ends
                  val sfv = if (b < 21) sf(b) + gr.preflag * L3Pretab(b) else 0
                  math.pow(m, 4.0 / 3.0) * math.pow(2.0, gain - mult * sfv)
                }
              // Huffman big_values: region split only selects the
              // table; pair tables 0 (zero table, zero bits) and 1
              // implemented. Window-switched granules use the implicit
              // region bounds (short: first 36 lines; start/stop AND
              // mixed: sfb 0-7, whose boundary is 36 lines at every
              // MPEG-1 rate; region2 empty in all)
              val r0End =
                if (isShort) 36
                else if (gr.blockType != 0) sfb(8)
                else sfb(math.min(gr.region0 + 1, 22))
              val r1End =
                if (gr.blockType != 0) 576
                else sfb(math.min(gr.region0 + 1 + gr.region1 + 1, 22))
              var line = 0
              val nBig = gr.bigValues * 2
              if (nBig > 576) return None
              while (line < nBig) {
                val tbl =
                  if (line < r0End) gr.tables(0)
                  else if (line < r1End) gr.tables(1)
                  else gr.tables(2)
                var x = 0; var y = 0
                tbl match {
                  case 0 => // Table 0: no codewords, pair is (0,0)
                  case 1 =>
                    // Table B.7/1: 1->(0,0), 01->(1,0), 001->(0,1), 000->(1,1)
                    if (mbits(1) == 1) { x = 0; y = 0 }
                    else if (mbits(1) == 1) { x = 1; y = 0 }
                    else if (mbits(1) == 1) { x = 0; y = 1 }
                    else { x = 1; y = 1 }
                  case _ => return None // larger tabulated tables: not implemented
                }
                val sx = if (x != 0 && mbits(1) == 1) -1 else 1
                val sy = if (y != 0 && mbits(1) == 1) -1 else 1
                xr(line) = sx * level(x, line)
                xr(line + 1) = sy * level(y, line + 1)
                line += 2
              }
              // count1: quadruples until part2_3_length exhausts or the
              // spectrum fills; table B = 4-bit one's-complement codes
              while (mPos < grEnd && line + 4 <= 576) {
                if (gr.count1Table != 1) return None // table A: not implemented
                val qStart = mPos
                val code = mbits(4) ^ 0xF
                var k = 3
                var ok = true
                val quad = new Array[Double](4)
                var l2 = line
                while (k >= 0) {
                  val m = (code >> k) & 1
                  var sgn = 1
                  if (m != 0) {
                    if (mPos + 1 > grEnd) ok = false
                    else if (mbits(1) == 1) sgn = -1
                  }
                  if (ok) quad(l2 - line) = sgn * level(m, l2)
                  l2 += 1; k -= 1
                }
                if (!ok || mPos > grEnd) { mPos = qStart; line = 576 } // overrun: drop quad
                else {
                  var j = 0
                  while (j < 4) { xr(line + j) = quad(j); j += 1 }
                  line += 4
                }
              }
              mPos = grEnd // skip any stuffing inside part2_3_length
            }
            // accumulate the granule: MS rebuilds L/R from mid/side
            // (§2.4.3.4.9.1: l = (m+s)/sqrt2, r = (m-s)/sqrt2); a line
            // below the intensity bound (or in an is_pos==7 band) uses
            // MS when the MS bit is set, else plain stereo
            def accumPlain(l: Int): Unit =
              if (msStereo)
                sumAbs += (math.abs(xrs(0)(l) + xrs(1)(l)) +
                  math.abs(xrs(0)(l) - xrs(1)(l))) / math.sqrt(2.0)
              else {
                var c2 = 0
                while (c2 < channels) { sumAbs += math.abs(xrs(c2)(l)); c2 += 1 }
              }
            if (intensity) {
              // rzero: start of the right channel's all-zero tail; the
              // intensity region covers the long bands whose LOWER
              // boundary sits at or above it (§2.4.3.4.9.3)
              var rz = 576
              while (rz > 0 && xrs(1)(rz - 1) == 0.0) rz -= 1
              var b0 = 0
              while (b0 < 22 && sfb(b0) < rz) b0 += 1
              var l = 0
              while (l < sfb(b0)) { accumPlain(l); l += 1 }
              var b = b0
              while (b < 22) {
                // the sfb21 pseudo-band (lines sfb(21)..576) reuses
                // the last real band's is_pos, as decoders must
                val isPos = sfLongs(1)(math.min(b, 20))
                val hi = sfb(b + 1)
                if (isPos == 7) { // "illegal position": band stays MS/plain
                  while (l < hi) { accumPlain(l); l += 1 }
                } else {
                  val ratio = math.tan(isPos * math.Pi / 12.0)
                  val wl = ratio / (1.0 + ratio)
                  val wr = 1.0 / (1.0 + ratio)
                  while (l < hi) {
                    val v = xrs(0)(l)
                    sumAbs += math.abs(v * wl) + math.abs(v * wr)
                    l += 1
                  }
                }
                b += 1
              }
            } else {
              var l = 0
              while (l < 576) { accumPlain(l); l += 1 }
            }
          }
          // trim + roll the reservoir (keep > 511 bytes of history)
          val keep = math.min(combined.length, 1024)
          reservoir = java.util.Arrays.copyOfRange(combined,
            combined.length - keep, combined.length)
          frames += 1
          i += frameLen
        }
      }
      if (frames == 0) None
      else {
        val nSamples = 1152L * ch0 * frames
        Some(DecodedAudioRaw(ch0, rate0, nSamples,
          frames * 1152000.0 / rate0, sumAbs / nSamples / 2.0))
      }
    } catch { case _: Exception => None }
  }

  // MPEG-4 ADTS sampling_frequency_index table (ISO/IEC 14496-3
  // Table 1.18 — public and trivially small, unlike the spectral
  // Huffman codebooks this subset deliberately avoids needing)
  private val AacRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** REAL pure-Scala AAC-LC (MPEG-4 ADTS) sample decode for the
    * documented ZERO-codebook subset: full ADTS header walk + complete
    * raw_data_block syntax parse (SCE / common-window CPE with MS
    * mask, ics_info for long AND eight-short window sequences with
    * window grouping, section_data, the tool-presence flags), accepted
    * only when every section of every individual channel stream uses
    * ZERO_HCB. For such frames the spectrum is all-zero by syntax, so
    * the IMDCT + overlap-add output is EXACTLY 1024 zero samples per
    * channel — a sample-exact decode that needs no spectral Huffman
    * codebooks. This is the honest boundary for this environment: the
    * spectral codebooks are spec tables that cannot be
    * fixture-verified here (no encoders, no egress — see
    * src/test/resources/fixtures/README.md), and the repo's protocol
    * forbids from-memory table transcription, so frames with any
    * nonzero codebook, and CCE/LFE/DSE/PCE/FIL elements, decline to
    * the fallback rather than risk silently-wrong samples. */
  private[graft] def decodeAacLc(bytes: Array[Byte]): Option[DecodedAudioRaw] = {
    if (bytes.length < 7) return None
    try {
      var i = 0
      var frames = 0L
      var rate0 = 0; var ch0 = 0
      while (i + 7 <= bytes.length) {
        if ((bytes(i) & 0xFF) != 0xFF || (bytes(i + 1) & 0xF6) != 0xF0) {
          if (frames == 0) return None else i = bytes.length // trailing junk
        } else {
          val protAbsent = bytes(i + 1) & 1
          val profile = (bytes(i + 2) >> 6) & 3
          val sfi = (bytes(i + 2) >> 2) & 0xF
          if (profile != 1 || sfi >= AacRates.length) return None // LC only
          val chanCfg = ((bytes(i + 2) & 1) << 2) | ((bytes(i + 3) >> 6) & 3)
          val frameLen = ((bytes(i + 3) & 3) << 11) |
            ((bytes(i + 4) & 0xFF) << 3) | ((bytes(i + 5) >> 5) & 7)
          val nBlocks = bytes(i + 6) & 3
          if (nBlocks != 0 || frameLen < 7 || i + frameLen > bytes.length)
            return None
          if (chanCfg != 1 && chanCfg != 2) return None // SCE / one CPE
          val rate = AacRates(sfi)
          if (frames == 0) { rate0 = rate; ch0 = chanCfg }
          else if (rate != rate0 || chanCfg != ch0) return None

          var bitPos = (i + 7 + (if (protAbsent == 0) 2 else 0)) * 8
          val bitEnd = (i + frameLen) * 8
          def read(n: Int): Int = {
            if (bitPos + n > bitEnd) throw new IllegalArgumentException("underrun")
            var v = 0; var r = n
            while (r > 0) {
              v = (v << 1) | ((bytes(bitPos >> 3) >> (7 - (bitPos & 7))) & 1)
              bitPos += 1; r -= 1
            }
            v
          }
          // ics_info → (numWindowGroups, maxSfb, isShort); declines
          // predictors. Window shape is read but irrelevant: a zero
          // spectrum windows to zero under either shape.
          def icsInfo(): (Int, Int, Boolean) = {
            if (read(1) != 0) throw new IllegalArgumentException("ics_reserved")
            val windowSeq = read(2)
            read(1) // window_shape
            if (windowSeq == 2) { // EIGHT_SHORT_SEQUENCE
              val maxSfb = read(4)
              val grouping = read(7)
              // a 0 bit starts a new group; 7 bits cover windows 1..7
              var groups = 1; var b = 6
              while (b >= 0) { if (((grouping >> b) & 1) == 0) groups += 1; b -= 1 }
              (groups, maxSfb, true)
            } else {
              val maxSfb = read(6)
              if (read(1) != 0) // predictor_data_present: not LC-silence
                throw new IllegalArgumentException("predictor")
              (1, maxSfb, false)
            }
          }
          // section_data accepting only ZERO_HCB; scale_factor_data,
          // pulse/tns/gain flags; zero spectral bits follow
          def icsBody(groups: Int, maxSfb: Int, short: Boolean): Unit = {
            val lenBits = if (short) 3 else 5
            val esc = (1 << lenBits) - 1
            var g = 0
            while (g < groups) {
              var k = 0
              while (k < maxSfb) {
                if (read(4) != 0) // sect_cb
                  throw new IllegalArgumentException("non-zero codebook")
                var sectLen = 0
                var l = read(lenBits)
                while (l == esc) { sectLen += esc; l = read(lenBits) }
                sectLen += l
                if (sectLen == 0) throw new IllegalArgumentException("empty sect")
                k += sectLen
              }
              if (k != maxSfb) throw new IllegalArgumentException("sect overrun")
              g += 1
            }
            // all bands ZERO_HCB → no scalefactors, no spectral data
            if (read(1) != 0) throw new IllegalArgumentException("pulse")
            if (read(1) != 0) throw new IllegalArgumentException("tns")
            if (read(1) != 0) throw new IllegalArgumentException("gain_control")
          }
          def sce(): Unit = {
            read(4) // element_instance_tag
            read(8) // global_gain
            val (groups, maxSfb, short) = icsInfo()
            icsBody(groups, maxSfb, short)
          }
          def cpe(): Unit = {
            read(4) // element_instance_tag
            if (read(1) != 1) // common_window=0 carries 2 ics_infos —
              throw new IllegalArgumentException("cpe without common window")
            val (groups, maxSfb, short) = icsInfo()
            val msMask = read(2)
            if (msMask == 1) { var n = groups * maxSfb; while (n > 0) { read(1); n -= 1 } }
            else if (msMask == 3) throw new IllegalArgumentException("ms_mask 3")
            // both channels: global_gain + section/sf/tool flags
            var c = 0
            while (c < 2) {
              read(8) // global_gain
              icsBody(groups, maxSfb, short)
              c += 1
            }
          }
          var go = true
          while (go) {
            read(3) match {
              case 0 => sce()
              case 1 => cpe()
              case 7 => go = false // TERM
              case _ => throw new IllegalArgumentException("element outside subset")
            }
          }
          frames += 1
          i += frameLen
        }
      }
      if (frames == 0) None
      else Some(DecodedAudioRaw(ch0, rate0, 1024L * ch0 * frames,
        frames * 1024000.0 / rate0, 0.0))
    } catch { case _: Exception => None }
  }

  case class Mp3Meta(version: String, bitrate_kbps: Int, sample_rate: Int,
      channels: Int, n_frames: Long, duration_ms: Double)

  /** REAL pure-Scala MP4 / ISO-BMFF container metadata (public spec:
    * ISO/IEC 14496-12 box structure): top-level box walk to `moov`,
    * then `mvhd` (timescale + duration → milliseconds) and each
    * `trak`'s `tkhd` (16.16 fixed-point width/height; the video track
    * is the one with nonzero dims). Handles version 0 and 1 boxes.
    * None for payloads that don't start with a well-formed box chain —
    * frame decoding (H.264 etc.) stays behind the documented stub. */
  private[graft] def mp4Meta(bytes: Array[Byte]): Option[Mp4Meta] = {
    def u32(i: Int): Long =
      if (i + 4 > bytes.length) -1L
      else ((bytes(i) & 0xFFL) << 24) | ((bytes(i + 1) & 0xFFL) << 16) |
        ((bytes(i + 2) & 0xFFL) << 8) | (bytes(i + 3) & 0xFFL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    def typ(i: Int): String =
      if (i + 8 > bytes.length) "" else new String(bytes, i + 4, 4, "ISO-8859-1")
    // returns (payloadStart, boxEnd) of the first `name` box in [from, to)
    def findBox(name: String, from: Int, to: Int): Option[(Int, Int)] = {
      var i = from
      while (i + 8 <= to) {
        val sz = u32(i)
        if (sz < 8 || i + sz > to) return None // size64/corrupt: stop
        if (typ(i) == name) return Some((i + 8, i + sz.toInt))
        i += sz.toInt
      }
      None
    }
    if (bytes.length < 16 || typ(0) != "ftyp") return None
    try {
      val (moovStart, moovEnd) = findBox("moov", 0, bytes.length).getOrElse(return None)
      val (mvhd, _) = findBox("mvhd", moovStart, moovEnd).getOrElse(return None)
      val ver = bytes(mvhd) & 0xFF
      val (timescale, duration) =
        if (ver == 1) (u32(mvhd + 20), u64(mvhd + 24)) else (u32(mvhd + 12), u32(mvhd + 16))
      if (timescale <= 0) return None
      var w = 0; var hgt = 0; var nTracks = 0
      var i = moovStart
      while (i + 8 <= moovEnd) {
        val sz = u32(i)
        if (sz < 8 || i + sz > moovEnd) return None
        if (typ(i) == "trak") {
          nTracks += 1
          findBox("tkhd", i + 8, i + sz.toInt).foreach { case (t, _) =>
            val tv = bytes(t) & 0xFF
            val base = if (tv == 1) t + 88 else t + 76
            val tw = (u32(base) >> 16).toInt; val th = (u32(base + 4) >> 16).toInt
            if (tw > 0 && th > 0) { w = tw; hgt = th }
          }
        }
        i += sz.toInt
      }
      Some(Mp4Meta(w, hgt, duration * 1000.0 / timescale, timescale, nTracks))
    } catch { case _: Exception => None }
  }
  case class Mp4Meta(width: Int, height: Int, duration_ms: Double,
      timescale: Long, n_tracks: Int)

  case class AudioMeta(doc_id: Long, codec: String, channels: Int,
      sample_rate: Int, bitrate_kbps: Int, n_frames: Long, duration_ms: Double)

  /** Batched audio CONTAINER metadata: WAV (RIFF), AIFF/AIFF-C, Sun
    * AU, and MP3 (frame walk) parse for real; anything else reports
    * codec "unknown" with the deterministic stub's numbers. The
    * bitrate reports the DECODED PCM width (G.711 sources expand to
    * 16-bit linear). No sample decoding on this path (`computeMean =
    * false` stops each decoder after its header walk) — it's the
    * "what is in this bucket of audio files" query. */
  def audioMeta(ds: Dataset[MediaRow]): Dataset[AudioMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.map { r =>
        def pcmish(codec: String, a: DecodedAudioRaw) =
          AudioMeta(r.doc_id, codec, a.channels, a.rate,
            a.rate * a.channels * a.bits / 1000,
            a.nSamples / math.max(1, a.channels), a.durationMs)
        decodeWav(r.content, computeMean = false).map(pcmish("pcm", _))
          .orElse(decodeAiff(r.content, computeMean = false).map(pcmish("aiff", _)))
          .orElse(decodeAu(r.content, computeMean = false).map(pcmish("au", _)))
          .getOrElse(mp3Meta(r.content) match {
            case Some(m) => AudioMeta(r.doc_id, "mp3", m.channels, m.sample_rate,
              m.bitrate_kbps, m.n_frames, m.duration_ms)
            case None =>
              val (_, _, _, mean) = fakeDecode(r.content)
              AudioMeta(r.doc_id, "unknown", 1, 8000, 0,
                r.content.length.toLong, mean) // stub numbers, flagged by codec
          })
      }
    }
  }

  case class Mp4Info(doc_id: Long, width: Int, height: Int,
      duration_ms: Double, timescale: Long, n_tracks: Int)

  /** Batched MP4 metadata rows; None-parses are dropped (callers union
    * with [[videoMeta]] for the mixed-container path). */
  def mp4MetaRows(ds: Dataset[MediaRow]): Dataset[Mp4Info] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { r =>
      mp4Meta(r.content).map(m =>
        Mp4Info(r.doc_id, m.width, m.height, m.duration_ms, m.timescale, m.n_tracks))
    })
  }

  private[graft] case class H264Raw(width: Int, height: Int, nFrames: Long,
      nMbs: Long, meanLuma: Double, profileIdc: Int, levelIdc: Int)
  case class H264Info(doc_id: Long, width: Int, height: Int, n_frames: Long,
      n_mbs: Long, mean_luma: Double, profile_idc: Int, level_idc: Int)

  /** RBSP extraction (ITU-T H.264 §7.3.1): strips the
    * emulation_prevention_three_byte — inside a NAL, 0x000003 followed
    * by a byte <= 3 encodes a raw 0x0000 pair. */
  private def h264Rbsp(b: Array[Byte], s: Int, e: Int): Array[Byte] = {
    val out = new Array[Byte](e - s)
    var n = 0; var i = s; var zeros = 0
    while (i < e) {
      val v = b(i) & 0xFF
      if (zeros >= 2 && v == 3 && (i + 1 == e || (b(i + 1) & 0xFF) <= 3)) zeros = 0
      else { out(n) = b(i); n += 1; zeros = if (v == 0) zeros + 1 else 0 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** REAL pure-Scala H.264/AVC (ITU-T H.264, public spec) decoder for
    * the I_PCM subset: Annex-B start-code NAL walk,
    * emulation-prevention unescape, Exp-Golomb SPS parse (dims from
    * pic_width_in_mbs / pic_height_in_map_units, frame cropping,
    * profile/level), PPS parse (CAVLC mode, deblocking/redundant-count
    * flags feed the slice header), IDR slice-header parse
    * (frame_num / idr_pic_id / POC by poc_type / dec_ref_pic_marking /
    * slice_qp_delta), and slice_data decode of I_PCM macroblocks —
    * mb_type 25 in I slices carries RAW 4:2:0 samples
    * (pcm_alignment, 256 luma + 128 chroma bytes, §7.3.5), so the
    * sample decode is exact, no transform/prediction needed.
    * Multi-slice frames are handled via the rbsp_stop_bit position
    * (more_rbsp_data); frames are counted at first_mb_in_slice == 0.
    *
    * Documented subset: baseline/main/extended profiles (66/77/88 —
    * no chroma_format/scaling-list SPS extension), progressive
    * (frame_mbs_only), no VUI, CAVLC entropy, single slice group,
    * IDR-only streams, and I_PCM macroblocks only. Predicted /
    * transform-coded macroblocks (CAVLC residual + intra prediction)
    * and CABAC return None and fall through to the documented stub —
    * the same partial-by-documentation contract as the WebP-class
    * codec filters in the reference (tiledb/filter.py:690). */
  /** `samples = false` is the METADATA walk: I_PCM payloads are
    * skipped with a byte-aligned position jump instead of per-bit
    * reads (raw 4:2:0 streams are huge; dims/frame counts must not
    * cost a full sample decode) — mean_luma reports 0. */
  private[graft] def decodeH264IPcm(bytes: Array[Byte],
      samples: Boolean = true): Option[H264Raw] = {
    if (bytes.length < 5) return None
    // ---- Annex-B NAL segmentation ----
    val nals = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0; var prev = -1
    while (i + 3 <= bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
        if (prev >= 0) nals += ((prev, i))
        prev = i + 3; i += 3
      } else i += 1
    }
    if (prev < 0) return None
    nals += ((prev, bytes.length))
    if (bytes(0) != 0 || bytes(1) != 0) return None // must start at a start code

    final class Br(val b: Array[Byte]) {
      var pos = 0
      def u(n: Int): Int = {
        var v = 0; var r = n
        while (r > 0) {
          v = (v << 1) | ((b(pos >> 3) >> (7 - (pos & 7))) & 1); pos += 1; r -= 1
        }
        v
      }
      def ue(): Int = {
        var z = 0
        while (u(1) == 0) { z += 1; if (z > 31) throw new IllegalArgumentException("ue") }
        if (z == 0) 0 else (1 << z) - 1 + u(z)
      }
      def se(): Int = { val k = ue(); if ((k & 1) == 1) (k + 1) / 2 else -(k / 2) }
      def align(): Unit = while ((pos & 7) != 0) u(1) // pcm_alignment_zero_bit
      // bit index of the rbsp_stop_bit (data bits live strictly before it)
      def dataEndBit: Int = {
        var last = b.length - 1
        while (last >= 0 && b(last) == 0) last -= 1
        if (last < 0) 0
        else last * 8 + (7 - Integer.numberOfTrailingZeros(b(last) & 0xFF))
      }
    }

    // SPS/PPS state (single active set — the subset's streams carry one)
    var wMbs = 0; var hMbs = 0; var cropX = 0; var cropY = 0
    var profile = 0; var level = 0
    var log2FrameNum = 0; var pocType = 0; var log2PocLsb = 0
    var deltaPocZero = false
    var haveSps = false; var havePps = false
    var bottomPocPresent = false; var dfcPresent = false; var redundantPresent = false
    var frames = 0L; var mbs = 0L; var lumaSum = 0L

    try {
      for ((s0, e0) <- nals) {
        var e = e0
        while (e > s0 && bytes(e - 1) == 0) e -= 1 // zero_byte of a 4-byte start code
        if (e > s0) {
          val hdr = bytes(s0) & 0xFF
          if ((hdr & 0x80) != 0) return None // forbidden_zero_bit
          val typ = hdr & 0x1F
          val br = new Br(h264Rbsp(bytes, s0 + 1, e))
          typ match {
            case 7 => // SPS
              profile = br.u(8); br.u(8); level = br.u(8); br.ue() // sps_id
              if (profile != 66 && profile != 77 && profile != 88) return None
              log2FrameNum = br.ue() + 4
              pocType = br.ue()
              if (pocType == 0) log2PocLsb = br.ue() + 4
              else if (pocType == 1) {
                deltaPocZero = br.u(1) == 1; br.se(); br.se()
                val n = br.ue(); var j = 0; while (j < n) { br.se(); j += 1 }
              }
              br.ue(); br.u(1) // max_num_ref_frames, gaps_allowed
              wMbs = br.ue() + 1; hMbs = br.ue() + 1
              if (br.u(1) != 1) return None // frame_mbs_only
              br.u(1) // direct_8x8_inference
              if (br.u(1) == 1) { // frame_cropping: 4:2:0 CropUnit = 2
                val cl = br.ue(); val cr = br.ue(); val ct = br.ue(); val cb = br.ue()
                cropX = 2 * (cl + cr); cropY = 2 * (ct + cb)
              }
              if (br.u(1) == 1) return None // VUI: out of subset
              haveSps = true
            case 8 => // PPS
              br.ue(); br.ue()
              if (br.u(1) != 0) return None // CABAC: out of subset
              bottomPocPresent = br.u(1) == 1
              if (br.ue() != 0) return None // slice groups: out of subset
              br.ue(); br.ue(); br.u(1); br.u(2); br.se(); br.se(); br.se()
              dfcPresent = br.u(1) == 1
              br.u(1) // constrained_intra_pred
              redundantPresent = br.u(1) == 1
              havePps = true
            case 5 => // IDR slice
              if (!haveSps || !havePps) return None
              val firstMb = br.ue()
              val sliceType = br.ue()
              if (sliceType % 5 != 2) return None // I slices only
              br.ue() // pps_id
              br.u(log2FrameNum) // frame_num
              br.ue() // idr_pic_id
              if (pocType == 0) {
                br.u(log2PocLsb)
                if (bottomPocPresent) br.se()
              } else if (pocType == 1 && !deltaPocZero) {
                br.se(); if (bottomPocPresent) br.se()
              }
              if (redundantPresent) br.ue()
              br.u(1); br.u(1) // dec_ref_pic_marking (IDR)
              br.se() // slice_qp_delta
              if (dfcPresent) { val idc = br.ue(); if (idc != 1) { br.se(); br.se() } }
              if (firstMb == 0) frames += 1
              var mb = firstMb
              val total = wMbs * hMbs
              val end = br.dataEndBit
              while (br.pos < end && mb < total) { // more_rbsp_data
                if (br.ue() != 25) return None // I_PCM only
                br.align()
                if (samples) {
                  var k = 0
                  while (k < 256) { lumaSum += br.u(8); k += 1 }
                  k = 0
                  while (k < 128) { br.u(8); k += 1 } // Cb + Cr, 4:2:0
                } else {
                  br.pos += 384 * 8 // 256 luma + 128 chroma, byte-aligned
                  if (br.pos > br.b.length * 8)
                    throw new IllegalArgumentException("truncated pcm")
                }
                mbs += 1; mb += 1
              }
            case 1 => return None // non-IDR coded slice: out of subset
            case _ => () // SEI / AUD / filler: skip
          }
        }
      }
      if (frames == 0 || mbs == 0) None
      else Some(H264Raw(wMbs * 16 - cropX, hMbs * 16 - cropY, frames, mbs,
        if (samples) lumaSum.toDouble / (256.0 * mbs) else 0.0, profile, level))
    } catch { case _: Exception => None }
  }

  /** REAL H.264-in-MP4 sample extraction — pure ISO-BMFF STRUCTURE
    * (no codec tables): walk moov → trak → mdia → minf → stbl, parse
    * the avc1/avc3 sample entry's `avcC` (NAL length size + SPS/PPS
    * parameter sets), resolve per-sample byte ranges from
    * stsz + stsc + stco/co64, and rewrite the length-prefixed sample
    * NALs as one Annex-B stream (parameter sets first) that
    * [[decodeH264IPcm]] consumes unchanged — RBSP emulation
    * prevention is part of the NAL payload in BOTH framings, so the
    * bytes pass through untouched. None for non-MP4 payloads or
    * tracks without an AVC sample entry. */
  private[graft] def h264FromMp4(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < 16) return None
    try {
      if (mp4Child(bytes, 0, bytes.length, "ftyp").isEmpty &&
          mp4Child(bytes, 0, bytes.length, "moov").isEmpty) return None
      val (moovS, moovE) = mp4Child(bytes, 0, bytes.length, "moov")
        .getOrElse(return None)
      mp4Children(bytes, moovS, moovE, "trak").iterator.flatMap {
        case (trakS, trakE) =>
          for {
            (stblS, stblE) <- mp4Stbl(bytes, trakS, trakE)
            (entS, entE) <- mp4SampleEntry(bytes, stblS, stblE,
              Set("avc1", "avc3"))
            // VisualSampleEntry: 8 box hdr + 78 fixed bytes, then
            // child boxes (avcC among them)
            (aS, _) <- mp4Child(bytes, entS + 78, entE, "avcC")
            ranges <- mp4SampleRanges(bytes, stblS, stblE)
            out <- {
              // avcC: ver, profile, compat, level, 6 bits +
              // lengthSizeMinusOne, then SPS/PPS parameter sets
              val lengthSize = (bytes(aS + 4) & 0x3) + 1
              val nSps = bytes(aS + 5) & 0x1F
              val baos = new java.io.ByteArrayOutputStream()
              def start(): Unit = {
                baos.write(0); baos.write(0); baos.write(0); baos.write(1)
              }
              def u16(i: Int) = ((bytes(i) & 0xFF) << 8) | (bytes(i + 1) & 0xFF)
              var p = aS + 6
              var k = 0
              while (k < nSps) {
                val len = u16(p); start(); baos.write(bytes, p + 2, len)
                p += 2 + len; k += 1
              }
              val nPps = bytes(p) & 0xFF; p += 1
              k = 0
              while (k < nPps) {
                val len = u16(p); start(); baos.write(bytes, p + 2, len)
                p += 2 + len; k += 1
              }
              // each sample = concatenated length-prefixed NALs
              val ok = ranges.forall { case (off, size) =>
                var q = off
                val sEnd = off + size
                var good = sEnd <= bytes.length
                while (good && q + lengthSize <= sEnd) {
                  var len = 0L
                  var b = 0
                  while (b < lengthSize) {
                    len = (len << 8) | (bytes((q + b).toInt) & 0xFFL); b += 1
                  }
                  q += lengthSize
                  if (len < 1 || q + len > sEnd) good = false
                  else { start(); baos.write(bytes, q.toInt, len.toInt); q += len }
                }
                good
              }
              if (ok) Some(baos.toByteArray) else None
            }
          } yield out
      }.nextOption()
    } catch { case _: Exception => None }
  }

  /** REAL AAC-in-MP4 extraction — the audio sibling of
    * [[h264FromMp4]]: trak → stbl with an `mp4a` sample entry, the
    * `esds` descriptor chain parsed down to the AudioSpecificConfig
    * (object type must be 2 = AAC-LC; sampling-frequency index and
    * channel configuration come from it), samples resolved via
    * stsz/stsc/stco, and each raw AAC access unit re-framed behind a
    * synthesized ADTS header — which is exactly the transport
    * [[decodeAacLc]] speaks, so MP4-carried AAC inherits the same
    * documented zero-codebook decode boundary. */
  private[graft] def aacFromMp4(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < 16) return None
    try {
      if (mp4Child(bytes, 0, bytes.length, "ftyp").isEmpty &&
          mp4Child(bytes, 0, bytes.length, "moov").isEmpty) return None
      val (moovS, moovE) = mp4Child(bytes, 0, bytes.length, "moov")
        .getOrElse(return None)
      mp4Children(bytes, moovS, moovE, "trak").iterator.flatMap {
        case (trakS, trakE) =>
          for {
            (stblS, stblE) <- mp4Stbl(bytes, trakS, trakE)
            (entS, entE) <- mp4SampleEntry(bytes, stblS, stblE, Set("mp4a"))
            // AudioSampleEntry: 8 box hdr + 28 fixed bytes, then
            // child boxes (esds among them)
            (eS, eE) <- mp4Child(bytes, entS + 28, entE, "esds")
            asc <- esdsAudioSpecificConfig(bytes, eS + 4, eE)
            ranges <- mp4SampleRanges(bytes, stblS, stblE)
            out <- {
              val (objType, sfi, chanCfg) = asc
              if (objType != 2 || sfi >= AacRates.length ||
                  chanCfg < 1 || chanCfg > 2) None
              else {
                val baos = new java.io.ByteArrayOutputStream()
                val ok = ranges.forall { case (off, size) =>
                  val sEnd = off + size
                  // the synthesized ADTS frame length is a 13-bit
                  // field; a sample over 8184 bytes would WRAP it and
                  // corrupt the stream — decline deterministically
                  if (sEnd > bytes.length || size > 8191 - 7) false
                  else {
                    // 7-byte ADTS header (protection absent): the
                    // transport decodeAacLc parses natively
                    val frameLen = 7 + size
                    val h = new Array[Byte](7)
                    h(0) = 0xFF.toByte
                    h(1) = 0xF1.toByte // MPEG-4, layer 0, no CRC
                    h(2) = (((objType - 1) << 6) | (sfi << 2)).toByte
                    h(3) = (((chanCfg & 7) << 6) | ((frameLen >> 11) & 3)).toByte
                    h(4) = ((frameLen >> 3) & 0xFF).toByte
                    h(5) = (((frameLen & 7) << 5) | 0x1F).toByte
                    h(6) = 0xFC.toByte // fullness tail + 1 block
                    baos.write(h)
                    baos.write(bytes, off.toInt, size)
                    true
                  }
                }
                if (ok) Some(baos.toByteArray) else None
              }
            }
          } yield out
      }.nextOption()
    } catch { case _: Exception => None }
  }

  /** The ES_Descriptor chain of an `esds` box down to the
    * AudioSpecificConfig: (audioObjectType, samplingFrequencyIndex,
    * channelConfiguration). Descriptor sizes use the 7-bit
    * continuation encoding. */
  private def esdsAudioSpecificConfig(bytes: Array[Byte], start: Int,
      end: Int): Option[(Int, Int, Int)] = {
    var p = start
    def size(): Int = {
      var v = 0
      var more = true
      while (more) {
        val b = bytes(p) & 0xFF; p += 1
        v = (v << 7) | (b & 0x7F); more = (b & 0x80) != 0
      }
      v
    }
    if (p >= end || (bytes(p) & 0xFF) != 0x03) return None // ES_Descriptor
    p += 1; size()
    p += 2 // ES_ID
    val flags = bytes(p) & 0xFF; p += 1
    if ((flags & 0x80) != 0) p += 2 // dependsOn_ES_ID
    if ((flags & 0x40) != 0) p += 1 + (bytes(p) & 0xFF) // URL
    if ((flags & 0x20) != 0) p += 2 // OCR_ES_ID
    if (p >= end || (bytes(p) & 0xFF) != 0x04) return None // DecoderConfig
    p += 1; size()
    p += 13 // objectTypeIndication + streamType/buffer + maxBitrate + avgBitrate
    if (p >= end || (bytes(p) & 0xFF) != 0x05) return None // DecSpecificInfo
    p += 1
    val dsLen = size()
    if (p + dsLen > end || dsLen < 2) return None
    val b0 = bytes(p) & 0xFF; val b1 = bytes(p + 1) & 0xFF
    val objType = (b0 >> 3) & 0x1F
    val sfi = ((b0 & 7) << 1) | (b1 >> 7)
    val chanCfg = (b1 >> 3) & 0xF
    Some((objType, sfi, chanCfg))
  }

  // ---- shared ISO-BMFF structure helpers ----

  private def mp4BoxSize(bytes: Array[Byte], p: Int, end: Int): Option[(Long, Int)] = {
    def u32(i: Int): Long =
      ((bytes(i) & 0xFFL) << 24) | ((bytes(i + 1) & 0xFFL) << 16) |
        ((bytes(i + 2) & 0xFFL) << 8) | (bytes(i + 3) & 0xFFL)
    if (p + 8 > end) None
    else {
      val sz0 = u32(p)
      val (sz, hdr) = if (sz0 == 1L && p + 16 <= end)
        ((u32(p + 8) << 32) | u32(p + 12), 16) else (sz0, 8)
      if (sz < hdr || p + sz > end) None else Some((sz, hdr))
    }
  }

  /** First child box named `name` in [start, end) → (payloadStart, boxEnd). */
  private def mp4Child(bytes: Array[Byte], start: Int, end: Int,
      name: String): Option[(Int, Int)] = {
    var p = start
    while (p + 8 <= end) {
      mp4BoxSize(bytes, p, end) match {
        case Some((sz, hdr)) =>
          if (new String(bytes, p + 4, 4, "ISO-8859-1") == name)
            return Some((p + hdr, p + sz.toInt))
          p += sz.toInt
        case None => return None
      }
    }
    None
  }

  private def mp4Children(bytes: Array[Byte], start: Int, end: Int,
      name: String): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var p = start
    while (p + 8 <= end) {
      mp4BoxSize(bytes, p, end) match {
        case Some((sz, hdr)) =>
          if (new String(bytes, p + 4, 4, "ISO-8859-1") == name)
            out += ((p + hdr, p + sz.toInt))
          p += sz.toInt
        case None => return out.toSeq
      }
    }
    out.toSeq
  }

  private def mp4Stbl(bytes: Array[Byte], trakS: Int,
      trakE: Int): Option[(Int, Int)] =
    for {
      (mdiaS, mdiaE) <- mp4Child(bytes, trakS, trakE, "mdia")
      (minfS, minfE) <- mp4Child(bytes, mdiaS, mdiaE, "minf")
      stbl <- mp4Child(bytes, minfS, minfE, "stbl")
    } yield stbl

  /** The stsd sample entry whose fourcc is in `names` →
    * (payloadStart, entryEnd). */
  private def mp4SampleEntry(bytes: Array[Byte], stblS: Int, stblE: Int,
      names: Set[String]): Option[(Int, Int)] = {
    val (stsdS, stsdE) = mp4Child(bytes, stblS, stblE, "stsd")
      .getOrElse(return None)
    var p = stsdS + 8 // version/flags + entry_count
    while (p + 8 <= stsdE) {
      mp4BoxSize(bytes, p, stsdE) match {
        case Some((sz, hdr)) =>
          if (names(new String(bytes, p + 4, 4, "ISO-8859-1")))
            return Some((p + hdr, p + sz.toInt))
          p += sz.toInt
        case None => return None
      }
    }
    None
  }

  /** Per-sample (absolute offset, size) from stsz + stsc + stco/co64. */
  private def mp4SampleRanges(bytes: Array[Byte], stblS: Int,
      stblE: Int): Option[Array[(Long, Int)]] = {
    def u32(i: Int): Long =
      ((bytes(i) & 0xFFL) << 24) | ((bytes(i + 1) & 0xFFL) << 16) |
        ((bytes(i + 2) & 0xFFL) << 8) | (bytes(i + 3) & 0xFFL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    // every count is validated against its BOX END before any
    // allocation: declared counts in a corrupt payload must decline,
    // not Array.tabulate gigabytes (an OutOfMemoryError is an Error —
    // it would sail past the Exception guards and kill the executor)
    val (szS, szE) = mp4Child(bytes, stblS, stblE, "stsz").getOrElse(return None)
    val uniform = u32(szS + 4)
    // declared sizes are u32 but consumed as Int: a corrupt size
    // >= 2^31 would wrap negative and make the caller's NAL loop
    // vacuously skip the sample (silently-wrong n_frames instead of
    // the decline-on-corrupt contract MediaFuzzSpec pins) — so any
    // non-positive or wrapping size declines the whole table
    if (uniform > Int.MaxValue.toLong) return None
    val nSamples = u32(szS + 8).toInt
    if (nSamples < 0 || nSamples > (1 << 22) ||
        (uniform == 0L && szS + 12 + 4L * nSamples > szE)) return None
    val sizes: Array[Int] = Array.tabulate(nSamples)(j =>
      if (uniform != 0) uniform.toInt else u32(szS + 12 + 4 * j).toInt)
    var sj = 0
    while (sj < nSamples) { if (sizes(sj) <= 0) return None; sj += 1 }
    val offsets: Array[Long] = mp4Child(bytes, stblS, stblE, "stco") match {
      case Some((cS, cE)) =>
        val n = u32(cS + 4).toInt
        if (n < 0 || cS + 8 + 4L * n > cE) return None
        Array.tabulate(n)(j => u32(cS + 8 + 4 * j))
      case None =>
        val (cS, cE) = mp4Child(bytes, stblS, stblE, "co64").getOrElse(return None)
        val n = u32(cS + 4).toInt
        if (n < 0 || cS + 8 + 8L * n > cE) return None
        Array.tabulate(n)(j => u64(cS + 8 + 8 * j))
    }
    val (scS, scE) = mp4Child(bytes, stblS, stblE, "stsc").getOrElse(return None)
    val nRuns = u32(scS + 4).toInt
    if (nRuns <= 0 || scS + 8 + 12L * nRuns > scE) return None
    val runs = Array.tabulate(nRuns)(j =>
      (u32(scS + 8 + 12 * j).toInt, u32(scS + 12 + 12 * j).toInt))
    val out = new Array[(Long, Int)](nSamples)
    var sample = 0
    var run = 0
    var chunk = 1
    while (sample < nSamples && chunk <= offsets.length) {
      while (run + 1 < nRuns && runs(run + 1)._1 <= chunk) run += 1
      val perChunk = runs(run)._2
      var off = offsets(chunk - 1)
      var j = 0
      while (j < perChunk && sample < nSamples) {
        out(sample) = (off, sizes(sample))
        off += sizes(sample)
        sample += 1
        j += 1
      }
      chunk += 1
    }
    if (sample < nSamples) None else Some(out)
  }

  /** [[decodeH264IPcm]] over either framing: Annex-B elementary
    * streams directly, MP4 payloads through [[h264FromMp4]]. */
  private[graft] def h264Auto(bytes: Array[Byte],
      samples: Boolean = true): Option[H264Raw] =
    decodeH264IPcm(bytes, samples).orElse(
      h264FromMp4(bytes).flatMap(decodeH264IPcm(_, samples)))

  /** Batched H.264 I_PCM sample decode rows (Annex-B or MP4-framed);
    * None-parses are dropped (callers union with [[videoMeta]] for
    * the mixed-codec path). */
  def h264Decode(ds: Dataset[MediaRow]): Dataset[H264Info] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { r =>
      h264Auto(r.content).map(h =>
        H264Info(r.doc_id, h.width, h.height, h.nFrames, h.nMbs, h.meanLuma,
          h.profileIdc, h.levelIdc))
    })
  }

  /** Batched video metadata: AVI and MP4 container headers parse for
    * REAL; other containers fall back to the deterministic stub. MP4
    * carries no frame count in `mvhd`, so those rows report frames 0
    * and fps 0.0 — real dims, honestly-absent timing. */
  def videoMeta(ds: Dataset[MediaRow]): Dataset[VideoMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.map { r =>
        aviMeta(r.content) match {
          case Some((w, h, frames, fps)) => VideoMeta(r.doc_id, w, h, frames, fps)
          case None => mp4Meta(r.content) match {
            case Some(m) => VideoMeta(r.doc_id, m.width, m.height, 0L, 0.0)
            case None => decodeH264IPcm(r.content, samples = false) match {
              case Some(h) => // raw Annex-B elementary stream: no container fps
                VideoMeta(r.doc_id, h.width, h.height, h.nFrames, 0.0)
              case None =>
                val (w, h, _, _) = fakeDecode(r.content)
                VideoMeta(r.doc_id, w, h, r.content.length / 256L, 30.0)
            }
          }
        }
      }
    }
  }

  // ---- STUB: compressed audio/video codecs only (see scaladoc) ----
  private def fakeDecode(bytes: Array[Byte]): (Int, Int, Int, Double) = {
    // deterministic pseudo-decode from the byte sum; real signature,
    // fake pixels. Integer byte-sum base keeps it cross-engine
    // verifiable (an external oracle can recompute it exactly).
    var s = 0L
    var i = 0
    while (i < bytes.length) { s += (bytes(i) & 0xFF); i += 1 }
    val w = 32 + (s % 97).toInt
    val ht = 32 + ((s / 97) % 89).toInt
    val mean = if (bytes.isEmpty) 0.0 else s.toDouble / bytes.length
    (w, ht, 3, mean)
  }

  /** Batched image decode: real mapPartitions plumbing; PPM (P6) and
    * GIF decode through the pure-Scala parsers above, PNG/JPEG/BMP/WBMP
    * through `javax.imageio` — all REAL (true dims + pixel mean); only
    * payloads no installed codec recognizes fall back to the documented
    * stub. */
  def decodeImages(ds: Dataset[MediaRow]): Dataset[DecodedImage] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      // per-partition init (codec contexts, model handles)
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val (w, h, c, mean) = decodeP6(r.content)
          .orElse(decodeGif(r.content))
          .orElse(decodeImageIO(r.content))
          .getOrElse(fakeDecode(r.content))
        DecodedImage(r.doc_id, w, h, c, mean)
      }
    }
  }

  /** Integer grayscale plane (gray = r+g+b, no float luma — exact and
    * engine-replayable) for perceptual hashing: P6 via the pure parser
    * (pixel bytes in hand), anything else ImageIO decodes via
    * BufferedImage. Returns (w, h, gray row-major). */
  private def grayPlane(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    def p6: Option[(Int, Int, Array[Int])] =
      p6Header(bytes, maxMaxval = 256).map { case (w, h, _, i) =>
        val gray = new Array[Int](w * h)
        var p = 0
        while (p < w * h) {
          val o = i + p * 3
          gray(p) = (bytes(o) & 0xFF) + (bytes(o + 1) & 0xFF) + (bytes(o + 2) & 0xFF)
          p += 1
        }
        (w, h, gray)
      }
    def viaImageIO: Option[(Int, Int, Array[Int])] =
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val gray = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              gray(y * w + x) = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
              x += 1
            }
            y += 1
          }
          Some((w, h, gray))
        }
      } catch { case _: Exception => None }
    p6.orElse(viaImageIO)
  }

  case class DHashRow(doc_id: Long, dhash: Long, dhash_bits: String)

  /** Perceptual difference-hash (dHash) per image — the standard
    * near-duplicate signature for images: nearest-neighbor downsample
    * to a 9x8 grayscale grid (sx = x*w/9, sy = y*h/8, integer
    * division — exact, closed-form, DuckDB-replayable on planted
    * images), one bit per horizontal neighbor pair
    * (gray(x+1,y) > gray(x,y)), 64 bits in row-major order. Pair it
    * with [[Dedup.hash64NearDups]] for banded hamming near-dup at
    * corpus scale. Undecodable payloads emit bits = "" (excluded by
    * callers; never a fake hash). */
  def imageDHash(ds: Dataset[MediaRow]): Dataset[DHashRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        grayPlane(r.content) match {
          case None => DHashRow(r.doc_id, 0L, "")
          case Some((w, h, gray)) =>
            val g = Array.tabulate(8, 9) { (y, x) =>
              gray((y * h / 8) * w + (x * w / 9))
            }
            var hash = 0L
            val sb = new java.lang.StringBuilder(64)
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                val b = g(y)(x + 1) > g(y)(x)
                hash = (hash << 1) | (if (b) 1L else 0L)
                sb.append(if (b) '1' else '0')
                x += 1
              }
              y += 1
            }
            DHashRow(r.doc_id, hash, sb.toString)
        }
      }
    }
  }

  /** Frames of an MJPEG-in-AVI payload as (frameIdx, iw, ih, rgb):
    * RIFF chunk walk to the `movi` LIST, every `..dc`/`..db` video
    * chunk is an independent JPEG decoded through ImageIO. Frames
    * failing `keep` are SKIPPED structurally (chunk-size jump, no
    * decode) — the same sample-not-footage cost contract as
    * [[gifFrames]]. None for payloads that are not RIFF/AVI or whose
    * kept video chunks do not decode as images. */
  private[graft] def aviMjpegFrames(bytes: Array[Byte],
      keep: Int => Boolean = _ => true): Option[Seq[(Int, Int, Int, Array[Int])]] = {
    if (bytes.length < 16) return None
    def fourcc(i: Int) = new String(bytes, i, 4, "ISO-8859-1")
    def u32(i: Int): Long = (bytes(i) & 0xFFL) | ((bytes(i + 1) & 0xFFL) << 8) |
      ((bytes(i + 2) & 0xFFL) << 16) | ((bytes(i + 3) & 0xFFL) << 24)
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    try {
      javax.imageio.ImageIO.setUseCache(false)
      // find the movi LIST among top-level chunks
      var pos = 12
      var movi = -1; var moviEnd = -1
      while (movi < 0 && pos + 12 <= bytes.length) {
        val szL = u32(pos + 4)
        // same corrupt-size guard as the movi walk below: a size whose
        // high bit is set (negative after toInt) or that runs past the
        // payload would advance pos by zero or backward and spin this
        // loop forever on a malformed chunk header
        if (szL < 0L || pos + 8L + szL > bytes.length) return None
        val id = fourcc(pos); val sz = szL.toInt
        if (id == "LIST" && fourcc(pos + 8) == "movi") {
          movi = pos + 12; moviEnd = pos + 8 + sz
        }
        pos += 8 + sz + (sz & 1)
      }
      if (movi < 0) return None
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Array[Int])]
      var idx = 0
      pos = movi
      while (pos + 8 <= moviEnd && pos + 8 <= bytes.length) {
        val id = fourcc(pos); val sz = u32(pos + 4).toInt
        if (sz < 0 || pos + 8 + sz > bytes.length) return None
        if (id.endsWith("dc") || id.endsWith("db")) {
          if (keep(idx)) {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes, pos + 8, sz))
            if (img == null) return None
            val (w, h) = (img.getWidth, img.getHeight)
            // packed 0xRRGGBB per pixel — the same shape gifFrames
            // yields, shared by the P6 re-encode
            val rgb = new Array[Int](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                rgb(y * w + x) = img.getRGB(x, y) & 0xFFFFFF
                x += 1
              }
              y += 1
            }
            frames += ((idx, w, h, rgb))
          }
          idx += 1
        }
        pos += 8 + sz + (sz & 1)
      }
      if (idx == 0) None else Some(frames.toSeq)
    } catch { case _: Exception => None }
  }

  private def rgbToP6(w: Int, h: Int, rgb: Array[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"P6\n$w $h\n255\n".getBytes("US-ASCII"))
    rgb.foreach { e =>
      out.write((e >> 16) & 0xFF); out.write((e >> 8) & 0xFF); out.write(e & 0xFF)
    }
    out.toByteArray
  }

  /** Frame sampling: animated GIFs and MJPEG-in-AVI videos decode for
    * REAL — every `stride`-th frame of the container walk
    * ([[gifFrames]] / [[aviMjpegFrames]]), re-encoded as binary P6 so
    * each sampled frame feeds straight back into [[decodeImages]] /
    * [[resizeImages]] / [[imageDHash]]. frame_idx is the ORIGINAL
    * frame number. Payloads that are not multi-frame-decodable keep
    * the stub chunker (every stride-th fixed-size chunk, real explode
    * shape) — swap in an ffmpeg/JNI demuxer there in production. */
  def sampleFrames(ds: Dataset[MediaRow], stride: Int = 4,
      frameBytes: Int = 256): Dataset[Frame] = {
    import ds.sparkSession.implicits._
    // composited animations forfeit the structural frame skip (frame N
    // depends on frames < N), so their decode cost is linear in the
    // FOOTAGE, not the sample — counted, never silent, per the repo's
    // cap-visibility convention
    val composited = graft.core.Stats.counter(ds.sparkSession,
      "media.gif_composited_full_decodes")
    ds.flatMap { r =>
      gifFrames(r.content, keep = _ % stride == 0)
        .orElse {
          val c = gifFramesComposited(r.content, keep = _ % stride == 0)
          if (c.isDefined) composited.add(1L)
          c
        }
        .orElse(aviMjpegFrames(r.content, keep = _ % stride == 0)) match {
        case Some(frames) =>
          frames.map { case (i, w, h, rgb) =>
            Frame(r.doc_id, i, rgbToP6(w, h, rgb))
          }
        case None =>
          r.content.grouped(frameBytes).zipWithIndex
            .collect { case (chunk, i) if i % stride == 0 => Frame(r.doc_id, i, chunk) }
            .toSeq
      }
    }
  }

  /** REAL image features from decoded pixels (classic color
    * descriptors — the deterministic complement to the embedding-model
    * stub in [[extractFeatures]]): per channel, a `bins`-bucket
    * normalized intensity histogram plus the channel mean/255 —
    * feature dim = 3*bins + 3, every value an exact ratio of integer
    * pixel counts, so the DuckDB oracle replays the whole vector.
    * Long-form (doc_id, feature_idx, value) rows: histogram buckets
    * first (channel-major), the 3 means last. Undecodable payloads
    * are DROPPED (None-parse — callers union with the stub path for
    * the mixed-corpus case). */
  def imageFeatures(ds: Dataset[MediaRow], bins: Int = 4): Dataset[MediaFeatureRow] = {
    require(bins >= 1 && 256 % bins == 0, s"bins must divide 256, got $bins")
    import ds.sparkSession.implicits._
    val width = 256 / bins
    ds.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        rgbPixels(r.content) match {
          case Some((w, h, px)) =>
            val n = w * h
            val hist = Array.ofDim[Long](3, bins)
            val sums = new Array[Long](3)
            var p = 0
            while (p < px.length) {
              val c = p % 3
              hist(c)(px(p) / width) += 1
              sums(c) += px(p)
              p += 1
            }
            val buckets = for (c <- 0 until 3; b <- 0 until bins) yield
              MediaFeatureRow(r.doc_id, c * bins + b, hist(c)(b).toDouble / n)
            val means = for (c <- 0 until 3) yield
              MediaFeatureRow(r.doc_id, 3 * bins + c, sums(c).toDouble / n / 255.0)
            buckets ++ means
          case None => Nil
        }
      }
    }
  }

  /** Fixed-dim feature extraction (stub: byte histogram folded to
    * `dim`); batch shape matches an embedding-model UDF. */
  def extractFeatures(ds: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.map { r =>
        val acc = new Array[Float](dim)
        var i = 0
        while (i < r.content.length) {
          acc(i % dim) += (r.content(i) & 0xFF) / 255.0f
          i += 1
        }
        MediaFeatures(r.doc_id, acc)
      }
    }
  }

  /** Feature extraction in driver-comparable shape: one row per
    * (doc_id, feature_idx) with an exact integer byte-sum per bucket
    * divided once at the end — deterministic regardless of partitioning
    * or accumulation order, so results hash-compare across engines.
    * Same mapPartitions batch contract as [[extractFeatures]]. */
  def featureRows(ds: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeatureRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.flatMap { r =>
        val acc = new Array[Long](dim)
        var i = 0
        while (i < r.content.length) {
          acc(i % dim) += (r.content(i) & 0xFF)
          i += 1
        }
        Iterator.tabulate(dim)(j => MediaFeatureRow(r.doc_id, j, acc(j) / 255.0))
      }
    }
  }

  /** REAL audio decimation for every integer-PCM source [[pcmView]]
    * covers — WAV at all four widths, AIFF/AIFF-C (NONE and sowt),
    * AU, and G.711 in any of the three containers (expanded to 16-bit
    * linear first) — the audio sibling of [[resizeImages]]: each
    * output frame is the FLOOR mean of `factor` consecutive input
    * frames per channel, averaged in the offset-binary (unsigned)
    * domain [[wavSampleU]] defines — exact integer math with floor
    * semantics on both engines (floorDiv here, `//` in the DuckDB
    * oracle) — re-encoded as a PCM WAV at rate/factor (widths above
    * 8 bits as signed little-endian), whatever the input container.
    * Compressed and IEEE-float payloads pass through UNCHANGED (a
    * polyphase resampler plugs in there in production; float has no
    * exact integer block-mean). */
  def resampleAudio(ds: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    import ds.sparkSession.implicits._
    ds.map { r =>
      pcmView(r.content) match {
        case Some((channels, rate, bits, nFramesL, sampleU))
            if (bits == 8 || bits == 16 || bits == 24 || bits == 32) &&
              rate >= factor && nFramesL >= factor =>
          val bytesPer = bits / 8
          val nFrames = nFramesL.toInt
          val outFrames = nFrames / factor
          val n = outFrames * channels * bytesPer
          val out = new java.io.ByteArrayOutputStream()
          def w32(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
            out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF) }
          def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
          val outRate = rate / factor
          out.write("RIFF".getBytes); w32(36 + n); out.write("WAVE".getBytes)
          out.write("fmt ".getBytes); w32(16); w16(1); w16(channels); w32(outRate)
          w32(outRate * channels * bytesPer); w16(channels * bytesPer); w16(bits)
          out.write("data".getBytes); w32(n)
          var k = 0
          while (k < outFrames) {
            var c = 0
            while (c < channels) {
              var sum = 0L
              var f = 0
              while (f < factor) {
                sum += sampleU((k * factor + f).toLong * channels + c)
                f += 1
              }
              // block mean in the offset-binary domain, re-encoded at
              // the width's signedness: 8-bit stays unsigned, wider
              // widths shift back to signed two's complement LE
              val m = Math.floorDiv(sum, factor)
              bits match {
                case 8 => out.write(m.toInt)
                case 16 => w16((m - 32768L).toInt & 0xFFFF)
                case 24 =>
                  val v = (m - (1L << 23)).toInt
                  out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
                  out.write((v >> 16) & 0xFF)
                case 32 => w32((m - (1L << 31)).toInt)
              }
              c += 1
            }
            k += 1
          }
          MediaRow(r.doc_id, out.toByteArray, r.media_type, "wav")
        case _ => r // compressed / non-PCM: pass through unchanged
      }
    }
  }

  /** Interleaved RGB pixels (one Int per channel sample) for the
    * resize path: P6 via the pure parser, anything else through
    * ImageIO. Returns (w, h, rgb[w*h*3]). */
  private def rgbPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    def p6: Option[(Int, Int, Array[Int])] =
      p6Header(bytes, maxMaxval = 256).map { case (w, h, _, i) =>
        (w, h, Array.tabulate(w * h * 3)(p => bytes(i + p) & 0xFF))
      }
    def viaImageIO: Option[(Int, Int, Array[Int])] =
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val rgb = new Array[Int](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              val o = (y * w + x) * 3
              rgb(o) = (p >> 16) & 0xFF; rgb(o + 1) = (p >> 8) & 0xFF
              rgb(o + 2) = p & 0xFF
              x += 1
            }
            y += 1
          }
          Some((w, h, rgb))
        }
      } catch { case _: Exception => None }
    p6.orElse(viaImageIO)
  }

  /** REAL image downscale: decode RGB pixels (P6 pure parser, else
    * ImageIO), integer BOX FILTER by `factor` — each output channel is
    * the floor mean of its factor x factor block, so the transform is
    * bit-deterministic and engine-replayable — and re-encode as
    * binary P6 (w/factor x h/factor). The real occupant of the
    * decode → transform → re-encode slot the resize stub documented;
    * payloads no codec recognizes keep the stub's truncate contract
    * (content[0, len/factor^2)), flagged by format "bin". */
  def resizeImages(ds: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        rgbPixels(r.content) match {
          case Some((w, h, px)) if w >= factor && h >= factor =>
            val w2 = w / factor; val h2 = h / factor
            val out = new Array[Byte](w2 * h2 * 3)
            val area = factor * factor
            var y = 0
            while (y < h2) {
              var x = 0
              while (x < w2) {
                var c = 0
                while (c < 3) {
                  var sum = 0
                  var dy = 0
                  while (dy < factor) {
                    var dx = 0
                    while (dx < factor) {
                      sum += px(((y * factor + dy) * w + (x * factor + dx)) * 3 + c)
                      dx += 1
                    }
                    dy += 1
                  }
                  out((y * w2 + x) * 3 + c) = (sum / area).toByte
                  c += 1
                }
                x += 1
              }
              y += 1
            }
            val header = s"P6\n$w2 $h2\n255\n".getBytes("US-ASCII")
            MediaRow(r.doc_id, header ++ out, "image", "ppm")
          case _ =>
            val keep = math.max(1, r.content.length / (factor * factor))
            MediaRow(r.doc_id, r.content.take(keep), r.media_type, "bin")
        }
      }
    }
  }
}
