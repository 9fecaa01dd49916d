package graft.operators

/** Real media-container parsing AND payload decoding from raw bytes —
  * no external libraries, so it runs anywhere the JVM runs. Header
  * walks (dimensions, sample rates, durations) for every format, and
  * full pixel/sample decode wherever the codec is pure algorithm:
  * BMP (true-color + indexed), PNG (all IHDR color types, depths
  * 1–16, Adam7), GIF (LZW, interlace), baseline + progressive JPEG
  * (greyscale/4:4:4/4:2:2/4:2:0), TIFF (strips + tiles; none/LZW/
  * Deflate/PackBits; predictor 2), WAV PCM (8/16/24/32-bit, float,
  * G.711 μ/A-law, EXTENSIBLE), tar (ustar/PAX/GNU) and WARC
  * (multi-member gzip) shard containers, MP4 sample tables. Only
  * video-codec frame decode (H.26x) stays out — it genuinely needs a
  * codec library; see `Multimodal`'s header for the boundary.
  * Every decoder degrades to null on malformed input rather than
  * throwing — at 100 TB a corrupt blob must become a filterable row,
  * not kill the task. Write-side `synth*` counterparts are exact
  * inverses, built for generator-replay oracles.
  */
object Containers {

  final case class MediaHeader(
      format: String,
      width: Int = 0,
      height: Int = 0,
      sampleRate: Int = 0,
      channels: Int = 0,
      bitsPerSample: Int = 0,
      durationMs: Long = 0)

  val unknown: MediaHeader = MediaHeader("unknown")

  private def u8(b: Array[Byte], i: Int): Int = java.lang.Byte.toUnsignedInt(b(i))
  private def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def leU32(b: Array[Byte], i: Int): Long =
    leU16(b, i).toLong | (leU16(b, i + 2).toLong << 16)
  private def leS32(b: Array[Byte], i: Int): Int = leU32(b, i).toInt
  private def beU32(b: Array[Byte], i: Int): Long =
    ((u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3))

  private def ascii(b: Array[Byte], i: Int, n: Int): String =
    new String(b, i, n, java.nio.charset.StandardCharsets.US_ASCII)

  /** Detect the container and parse its header fields. */
  def parse(b: Array[Byte]): MediaHeader =
    if (b.length >= 26 && b(0) == 'B' && b(1) == 'M') parseBmp(b)
    else if (b.length >= 24 && beU32(b, 0) == 0x89504e47L && beU32(b, 4) == 0x0d0a1a0aL)
      parsePng(b)
    else if (b.length >= 10 && (ascii(b, 0, 6) == "GIF87a" || ascii(b, 0, 6) == "GIF89a"))
      MediaHeader("gif", width = leU16(b, 6), height = leU16(b, 8))
    else if (b.length >= 12 && ascii(b, 0, 4) == "RIFF" && ascii(b, 8, 4) == "WAVE")
      parseWav(b)
    else if (Aiff.isAiff(b)) {
      val h = Aiff.header(b)
      if (h == null) MediaHeader("aiff")
      else MediaHeader("aiff", sampleRate = h._1, channels = h._2,
        bitsPerSample = h._3, durationMs = h._4)
    }
    else if (Webp.isWebp(b)) {
      val p = Webp.probe(b)
      if (p == null) unknown
      else MediaHeader("webp", width = p._2, height = p._3)
    }
    else if (Flac.isFlac(b)) {
      val si = Flac.streamInfo(b)
      if (si == null) unknown
      else MediaHeader("flac", sampleRate = si.sampleRate,
        channels = si.channels, bitsPerSample = si.bps)
    }
    else if (Id3.hasId3(b)) {
      // real-world audio ships with an ID3v2 tag PREPENDED — name the
      // codec beneath it, not "unknown". An MP3 frame sync after a
      // REAL tag is strong evidence (the bare 11-bit sync alone would
      // be too weak a magic to probe on).
      val inner = Id3.strip(b)
      if (inner == null || inner.length < 4) unknown
      else if ((inner(0) & 0xFF) == 0xFF && (inner(1) & 0xE0) == 0xE0)
        MediaHeader("mp3")
      else parse(inner) // e.g. ID3-tagged FLAC: recurse past the tag
    }
    else if (Ogg.isOgg(b)) {
      // ONE probe walk names the codec AND yields the FLAC STREAMINFO
      // — damaged containers (CRC, framing, page loss) degrade to
      // unknown, sound ones with an unrecognized codec stay "ogg"
      Ogg.probe(b) match {
        case null => unknown
        case ("oggflac", si) =>
          if (si == null) unknown
          else MediaHeader("oggflac", sampleRate = si.sampleRate,
            channels = si.channels, bitsPerSample = si.bps)
        case (c, _) => MediaHeader(c)
      }
    }
    else if (b.length >= 4 && u8(b, 0) == 0xFF && u8(b, 1) == 0xD8 && u8(b, 2) == 0xFF)
      parseJpeg(b)
    else if (b.length >= 12 && ascii(b, 4, 4) == "ftyp") parseMp4(b)
    else if (b.length >= 8 &&
        ((b(0) == 'I'.toByte && b(1) == 'I'.toByte && leU16(b, 2) == 42) ||
         (b(0) == 'M'.toByte && b(1) == 'M'.toByte && beU16(b, 2) == 42))) {
      val t = tiffTags(b)
      if (t == null) unknown
      else MediaHeader("tiff",
        width = t.get(256).map(_.head.toInt).getOrElse(0),
        height = t.get(257).map(_.head.toInt).getOrElse(0))
    }
    else if (b.length >= 4 && u8(b, 0) == 0xFF && (u8(b, 1) & 0xE0) == 0xE0) {
      // untagged MPEG audio: the 11-bit sync alone is too weak a
      // magic, but a FULL frame walk landing exactly on stream end
      // (≥2 consistent frames) is semantic evidence, checked LAST so
      // every stronger magic wins first
      val info = Mp3.parse(b)
      if (info != null && info.nFrames >= 2)
        MediaHeader("mp3", sampleRate = info.sampleRate,
          channels = info.channels, durationMs = info.durationMs)
      else unknown
    }
    else unknown

  /** BMP: 14-byte file header, then a DIB header. BITMAPCOREHEADER
    * (size 12) carries u16 dims; BITMAPINFOHEADER and successors
    * (size ≥ 40) carry s32 dims — height may be negative for top-down
    * rows, the magnitude is the pixel height.
    */
  private def parseBmp(b: Array[Byte]): MediaHeader = {
    val dibSize = leU32(b, 14)
    if (dibSize == 12L && b.length >= 22)
      MediaHeader("bmp", width = leU16(b, 18), height = leU16(b, 20))
    else if (dibSize >= 40L && b.length >= 26)
      MediaHeader("bmp", width = leS32(b, 18), height = math.abs(leS32(b, 22)))
    else unknown
  }

  /** PNG: the IHDR chunk is mandatory and first — width/height are the
    * 8 bytes after the length+type at offset 8.
    */
  private def parsePng(b: Array[Byte]): MediaHeader =
    if (ascii(b, 12, 4) == "IHDR")
      MediaHeader("png", width = beU32(b, 16).toInt, height = beU32(b, 20).toInt)
    else unknown

  /** Walk RIFF chunks from offset 12 to the first complete `fmt `
    * chunk (not assumed first — some writers put LIST/JUNK chunks
    * ahead of it); returns its chunk offset, or -1. Chunk data is
    * word-aligned: odd sizes are padded by one byte. Long offsets +
    * strictly-increasing advance: a corrupt/malicious chunk size
    * (e.g. 0xFFFFFFF8) must not wrap the cursor into an infinite loop
    * or out-of-bounds read. ONE copy of the walk — [[parseWav]] and
    * [[wavSamples]] both route through it.
    */
  private def findWavFmt(b: Array[Byte]): Int = {
    var off = 12L
    while (off + 8 <= b.length) {
      val i = off.toInt
      val id = ascii(b, i, 4)
      val size = leU32(b, i + 4) // unsigned, 0..2^32-1
      if (id == "fmt " && off + 8 + 16 <= b.length && size >= 16L)
        return i
      off += 8L + size + (size & 1L)
    }
    -1
  }

  private def parseWav(b: Array[Byte]): MediaHeader = {
    val i = findWavFmt(b)
    if (i < 0) unknown
    else MediaHeader("wav",
      channels = leU16(b, i + 10),
      sampleRate = leU32(b, i + 12).toInt,
      bitsPerSample = leU16(b, i + 22))
  }

  private def beU16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** JPEG: walk 0xFF-prefixed marker segments from after SOI until a
    * start-of-frame marker (SOF0-15 minus the non-frame DHT/JPG/DAC
    * slots), whose payload is [precision u8][height u16][width u16].
    * Stand-alone markers (RST, TEM) have no length word. A zero/corrupt
    * segment length degrades to unknown instead of looping.
    */
  private def parseJpeg(b: Array[Byte]): MediaHeader = {
    var off = 2L
    while (off + 4 <= b.length) {
      val i = off.toInt
      if (u8(b, i) != 0xFF) return unknown
      val marker = u8(b, i + 1)
      if (marker == 0xFF) { off += 1 } // fill bytes before a marker
      else if ((marker >= 0xD0 && marker <= 0xD7) || marker == 0x01) off += 2
      else {
        val len = beU16(b, i + 2)
        if (len < 2) return unknown
        val isSof = marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC
        if (isSof)
          return if (off + 9 <= b.length)
            MediaHeader("jpeg", width = beU16(b, i + 7), height = beU16(b, i + 5))
          else unknown
        if (marker == 0xD9 || marker == 0xDA) return unknown // EOI/SOS before SOF
        off += 2L + len
      }
    }
    unknown
  }

  /** Minimal valid JFIF JPEG header up to SOF0 (no entropy data —
    * header fields are what the parser reads).
    */
  def synthJpeg(width: Int, height: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(2 + 18 + 12)
    out.put(Array(0xFF, 0xD8).map(_.toByte))                 // SOI
    out.put(Array(0xFF, 0xE0).map(_.toByte)).putShort(16)    // APP0, len 16
      .put("JFIF".getBytes).put(0.toByte)
      .put(1.toByte).put(1.toByte).put(0.toByte)
      .putShort(72).putShort(72).put(0.toByte).put(0.toByte)
    out.put(Array(0xFF, 0xC0).map(_.toByte)).putShort(10)    // SOF0, len 10
      .put(8.toByte)                                         // precision
      .putShort(height.toShort).putShort(width.toShort)
      .put(1.toByte)                                         // 1 component
    out.array()
  }

  // --- synthesizers (tests + demo corpus; also the write-side proof the
  // --- parser reads real layouts, not a private convention) ------------

  /** Minimal valid 24-bit BMP wrapping `payload` as pixel data (the
    * payload is NOT valid pixel rows unless sized w*h*3 padded — header
    * fields are what matter here).
    */
  def synthBmp(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(54 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
      .putInt(54 + payload.length) // file size
      .putShort(0).putShort(0)
      .putInt(54)                  // pixel data offset
      .putInt(40)                  // BITMAPINFOHEADER size
      .putInt(width).putInt(height)
      .putShort(1)                 // planes
      .putShort(24)                // bpp
      .putInt(0)                   // BI_RGB
      .putInt(payload.length)      // image size
      .putInt(2835).putInt(2835)   // 72 DPI
      .putInt(0).putInt(0)
      .put(payload)
    out.array()
  }

  /** Minimal valid WAV wrapping `payload` as the data chunk. `format`
    * is the WAVE format code (1 = PCM, 6 = A-law, 7 = μ-law).
    */
  def synthWav(sampleRate: Int, channels: Int, bitsPerSample: Int,
      payload: Array[Byte], format: Int = 1): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val out = java.nio.ByteBuffer.allocate(44 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(36 + payload.length).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16)
      .putShort(format.toShort)
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign)      // byte rate
      .putShort(blockAlign.toShort)
      .putShort(bitsPerSample.toShort)
      .put("data".getBytes).putInt(payload.length)
      .put(payload)
    out.array()
  }

  // --- real payload DECODING for the uncompressed formats --------------
  // 24-bit BMP and PCM WAV carry raw pixels/samples — no codec library
  // needed, just geometry (row padding, chunk walk, endianness). These
  // complete the decode path for the formats where "decode" is byte
  // arithmetic; compressed formats (PNG/JPEG/MP4) stay header-only.

  /** Decode an uncompressed BMP's pixels into logical top-down row
    * order (B,G,R per pixel): 24-bit direct color, or 8-bit / 4-bit
    * palette-indexed (color table resolved, nibbles unpacked
    * high-first) — stripping the 4-byte row padding and un-reversing
    * the bottom-up row storage. Returns null for anything that is not
    * a well-formed BI_RGB bitmap with a complete pixel array and (for
    * indexed formats) an in-range color table — corrupt blobs degrade
    * to a filterable value, never an exception.
    */
  def bmpPixelBytes(b: Array[Byte]): Array[Byte] = {
    if (!(b.length >= 54 && b(0) == 'B' && b(1) == 'M')) return null
    val dibSize = leU32(b, 14)
    // reject before narrowing: an unsigned dibSize >= 2^31 would wrap
    // `14 + dibSize.toInt` negative and slip past the Long bounds
    // checks into an out-of-bounds palette read — a hostile blob must
    // degrade to null, never throw (imagePixelBytes tries BMP first on
    // EVERY image)
    if (dibSize < 40L || dibSize > b.length - 14L) return null
    val w = leS32(b, 18)
    val hRaw = leS32(b, 22)
    val h = math.abs(hRaw)
    val bpp = leU16(b, 28)
    val compression = leU32(b, 30)
    val off = leU32(b, 10)
    if (w <= 0 || h == 0 || compression != 0L) return null
    if (w.toLong * h * 3 > (1L << 30)) return null
    if (bpp == 24) {
      val rowSize = ((w * 3 + 3) / 4) * 4
      if (off < 54L || off + rowSize.toLong * h > b.length) return null
      val out = new Array[Byte](w * h * 3)
      var row = 0
      while (row < h) {
        // positive height = rows stored bottom-up; negative = top-down
        val srcRow = if (hRaw > 0) h - 1 - row else row
        System.arraycopy(b, off.toInt + srcRow * rowSize, out, row * w * 3, w * 3)
        row += 1
      }
      out
    } else if (bpp == 8 || bpp == 4) {
      val clrUsed = leU32(b, 46).toInt
      val np = if (clrUsed > 0) clrUsed else 1 << bpp
      if (np > (1 << bpp)) return null
      val palOff = 14 + dibSize.toInt       // BGRA quads follow the DIB
      if (palOff + 4L * np > b.length) return null
      val rowSize = ((w * bpp + 31) / 32) * 4
      if (off < palOff + 4L * np || off + rowSize.toLong * h > b.length)
        return null
      val out = new Array[Byte](w * h * 3)
      var row = 0
      while (row < h) {
        val srcRow = if (hRaw > 0) h - 1 - row else row
        val base = off.toInt + srcRow * rowSize
        var x = 0
        while (x < w) {
          val idx =
            if (bpp == 8) u8(b, base + x)
            else { // 4bpp: high nibble is the LEFT pixel
              val byte = u8(b, base + x / 2)
              if (x % 2 == 0) byte >> 4 else byte & 0x0F
            }
          if (idx >= np) return null
          val d = (row * w + x) * 3
          out(d) = b(palOff + 4 * idx)           // B
          out(d + 1) = b(palOff + 4 * idx + 1)   // G
          out(d + 2) = b(palOff + 4 * idx + 2)   // R
          x += 1
        }
        row += 1
      }
      out
    } else null
  }

  /** 24-bit BMP from logical top-down pixel bytes (length w*h*3),
    * writing bottom-up padded rows — the exact inverse of
    * [[bmpPixelBytes]] (`bmpPixelBytes(synthBmp24(w,h,px)) == px`).
    */
  def synthBmp24(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height * 3,
      s"need $width*$height*3 pixel bytes, got ${pixels.length}")
    val rowSize = ((width * 3 + 3) / 4) * 4
    val out = java.nio.ByteBuffer.allocate(54 + rowSize * height)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
      .putInt(54 + rowSize * height).putShort(0).putShort(0).putInt(54)
      .putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(rowSize * height)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var row = height - 1 // bottom-up storage
    while (row >= 0) {
      out.put(pixels, row * width * 3, width * 3)
      var pad = rowSize - width * 3
      while (pad > 0) { out.put(0.toByte); pad -= 1 }
      row -= 1
    }
    out.array()
  }

  /** Nearest-neighbor integer-factor downscale over logical top-down
    * 3-byte pixels — the shared kernel of [[resizeBmp]]/[[resizePng]].
    */
  private def resizePixels(px: Array[Byte], w0: Int, h0: Int,
      factor: Int): (Int, Int, Array[Byte]) = {
    val w1 = math.max(w0 / factor, 1)
    val h1 = math.max(h0 / factor, 1)
    val out = new Array[Byte](w1 * h1 * 3)
    var y = 0
    while (y < h1) {
      var x = 0
      while (x < w1) {
        val src = ((y * factor) * w0 + (x * factor)) * 3
        System.arraycopy(px, src, out, (y * w1 + x) * 3, 3)
        x += 1
      }
      y += 1
    }
    (w1, h1, out)
  }

  /** Valid palette-indexed BMP (8 or 4 bits per pixel) from a BGR
    * color table (3·np bytes, np ≤ 2^bpp) and logical top-down
    * indices: BGRA color-table quads after the BITMAPINFOHEADER,
    * biClrUsed set, bottom-up 4-byte-aligned rows, 4bpp nibbles packed
    * high-first — the exact write-side counterpart of
    * [[bmpPixelBytes]]'s indexed path.
    */
  def synthBmpPal(width: Int, height: Int, bpp: Int, paletteBgr: Array[Int],
      indices: Array[Int]): Array[Byte] = {
    require(bpp == 8 || bpp == 4, s"bpp must be 8 or 4: $bpp")
    val np = paletteBgr.length / 3
    require(paletteBgr.length == 3 * np && np >= 1 && np <= (1 << bpp),
      s"palette must be 3*np BGR bytes with np <= 2^$bpp")
    require(indices.length == width * height,
      s"need $width*$height indices, got ${indices.length}")
    val rowSize = ((width * bpp + 31) / 32) * 4
    val off = 54 + 4 * np
    val out = java.nio.ByteBuffer.allocate(off + rowSize * height)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
      .putInt(off + rowSize * height).putShort(0).putShort(0).putInt(off)
      .putInt(40).putInt(width).putInt(height).putShort(1)
      .putShort(bpp.toShort)
      .putInt(0).putInt(rowSize * height)
      .putInt(2835).putInt(2835)
      .putInt(np)                        // biClrUsed
      .putInt(0)
    for (j <- 0 until np)
      out.put(paletteBgr(3 * j).toByte).put(paletteBgr(3 * j + 1).toByte)
        .put(paletteBgr(3 * j + 2).toByte).put(0.toByte)
    var row = height - 1 // bottom-up storage
    while (row >= 0) {
      val rowBytes = new Array[Byte](rowSize)
      var x = 0
      while (x < width) {
        val idx = indices(row * width + x)
        require(idx >= 0 && idx < np, s"index $idx out of palette range")
        if (bpp == 8) rowBytes(x) = idx.toByte
        else {
          val p = x / 2
          rowBytes(p) =
            (if (x % 2 == 0) (rowBytes(p) & 0x0F) | (idx << 4)
             else (rowBytes(p) & 0xF0) | idx).toByte
        }
        x += 1
      }
      out.put(rowBytes)
      row -= 1
    }
    out.array()
  }

  /** Nearest-neighbor downscale of a 24-bit BMP by an integer factor —
    * a REAL resize over decoded pixels (not byte striding), returning a
    * valid BMP of the reduced dimensions. Null for undecodable inputs.
    */
  def resizeBmp(b: Array[Byte], factor: Int): Array[Byte] = {
    require(factor >= 1, s"factor must be >= 1: $factor")
    val px = bmpPixelBytes(b)
    if (px == null) return null
    val h = parse(b) // well-formed: bmpPixelBytes succeeded
    val (w1, h1, out) = resizePixels(px, h.width, h.height, factor)
    synthBmp24(w1, h1, out)
  }

  /** Nearest-neighbor downscale of a PNG by an integer factor: decode
    * through inflate+unfilter, resize the logical pixels, re-encode as
    * an RGB (type 2) PNG with filter None — a real decode→transform→
    * re-encode cycle. Null for undecodable inputs.
    */
  def resizePng(b: Array[Byte], factor: Int): Array[Byte] = {
    require(factor >= 1, s"factor must be >= 1: $factor")
    val px = pngPixelBytes(b)
    if (px == null) return null
    val h = parse(b)
    val (w1, h1, out) = resizePixels(px, h.width, h.height, factor)
    synthPng(w1, h1, out, _ => 0)
  }

  // --- real PNG pixel decode: DEFLATE is in the JDK -------------------
  // PNG's "codec" is zlib (the JDK Inflater) plus five per-row
  // byte filters — no external library needed, unlike JPEG/MP4 whose
  // codecs (DCT/entropy, H.26x) genuinely require one. Supported
  // profile: color types 0 (gray, depths 1/2/4/8/16), 2 (RGB, 8/16),
  // 3 (palette via PLTE, 1/2/4/8), 4 (gray+alpha, 8/16), and
  // 6 (RGBA, 8/16), sequential AND Adam7-interlaced — the full
  // spec-valid matrix real web corpora draw from.

  /** Decode a PNG into logical top-down 3-bytes-per-pixel rows (R,G,B
    * per pixel; grayscale replicated ×3 — sub-8-bit samples scaled by
    * 255/(2^d−1), 16-bit by its high byte — palette indices resolved
    * through PLTE, alpha dropped): concatenate the IDAT chunks,
    * inflate, and reverse the per-row filter (None / Sub / Up /
    * Average / Paeth) at the profile's byte distance. Null for
    * anything outside the supported profile or with corrupt/truncated
    * structure — same degrade-don't-throw posture as
    * [[bmpPixelBytes]]. The inflated size is computed from the header
    * BEFORE allocation and capped (2³⁰ bytes), so a forged-header
    * "zip bomb" blob can neither OOM an executor nor loop the task.
    */
  def pngPixelBytes(b: Array[Byte]): Array[Byte] = {
    if (!(b.length >= 41 && beU32(b, 0) == 0x89504e47L &&
        beU32(b, 4) == 0x0d0a1a0aL)) return null
    var off = 8L
    var w = 0; var h = 0; var bitDepth = 0; var colorType = -1
    var interlace = 0; var compression = 0; var filterMethod = 0
    var sawIhdr = false
    var plte: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (off + 8 <= b.length && !done) {
      val i = off.toInt
      val len = beU32(b, i) // unsigned
      val tpe = ascii(b, i + 4, 4)
      if (len > b.length - (i + 8)) return null // truncated chunk
      // the spec REQUIRES IHDR first; accepting a stray leading chunk
      // would diverge from parse() (which reads dims at the fixed
      // offset), and consumers pair this decode with parse()'s dims
      if (!sawIhdr && tpe != "IHDR") return null
      tpe match {
        case "IHDR" =>
          if (len < 13) return null
          w = beU32(b, i + 8).toInt; h = beU32(b, i + 12).toInt
          bitDepth = u8(b, i + 16); colorType = u8(b, i + 17)
          compression = u8(b, i + 18); filterMethod = u8(b, i + 19)
          interlace = u8(b, i + 20); sawIhdr = true
        case "PLTE" =>
          if (len % 3 != 0 || len > 768) return null
          plte = java.util.Arrays.copyOfRange(b, i + 8, i + 8 + len.toInt)
        case "IDAT" => idat.write(b, i + 8, len.toInt)
        case "IEND" => done = true
        case _ => () // ancillary chunks (tEXt, pHYs, …) skip cleanly
      }
      off += 12L + len // len + type + data + crc
    }
    if (!sawIhdr || w <= 0 || h <= 0 ||
        compression != 0 || filterMethod != 0 ||
        (interlace != 0 && interlace != 1)) return null
    val spp = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return null
    }
    val depthOk = colorType match {
      case 0 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 ||
        bitDepth == 8 || bitDepth == 16
      case 3 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 || bitDepth == 8
      case _ => bitDepth == 8 || bitDepth == 16
    }
    if (!depthOk) return null
    if (colorType == 3 && (plte == null || plte.length < 3)) return null
    val np = if (plte == null) 0 else plte.length / 3
    // filter distance in BYTES: ceil(depth/8)·spp, min 1 (sub-8 packs
    // multiple pixels per byte and filters at one-byte distance)
    val bpp = math.max(1, spp * bitDepth / 8)
    // Adam7 decodes as 7 independent sub-images placed on a step grid;
    // non-interlaced is the single full-grid "pass". Passes with zero
    // pixels contribute NO bytes (not even filter bytes), per spec.
    val passGrid: Array[(Int, Int, Int, Int)] =
      if (interlace == 0) Array((0, 0, 1, 1))
      else Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    // (x0, y0, dx, dy, wp, hp, strideBytes) for each non-empty pass
    val passes = passGrid.map { case (x0, y0, dx, dy) =>
      val wp = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val hp = if (h > y0) (h - y0 + dy - 1) / dy else 0
      (x0, y0, dx, dy, wp, hp, (wp.toLong * spp * bitDepth + 7) / 8)
    }.filter(p => p._5 > 0 && p._6 > 0)
    val rawLen = passes.map(p => (p._7 + 1L) * p._6).sum
    if (rawLen > (1L << 30) || w.toLong * h * 3 > (1L << 30)) return null
    val z = idat.toByteArray
    val inflated = Capped.inflate(z, 0, z.length, rawLen, rawLen, raw = false)
    if (inflated == null || inflated.bytes.length != rawLen) return null
    val raw = inflated.bytes
    // Reverse the per-row filters pass by pass: each pass is an
    // independent sub-image (its own stride; `prev` all zeros for its
    // first row, per spec), whose pixel (p, row) lands on the output
    // grid at (x0 + p·dx, y0 + row·dy).
    val out = new Array[Byte](w * h * 3)
    val maxStride = passes.map(_._7).max.toInt
    val prev = new Array[Byte](maxStride)
    val cur = new Array[Byte](maxStride)
    // sub-8-bit gray scales to full range: 255/(2^d−1) is integral
    val grayScale = if (bitDepth < 8) 255 / ((1 << bitDepth) - 1) else 1
    val step = if (bitDepth == 16) 2 else 1 // high byte of 16-bit samples
    var rawBase = 0
    for ((x0, y0, dx, dy, wp, hp, strideL) <- passes) {
      val strideI = strideL.toInt
      java.util.Arrays.fill(prev, 0, strideI, 0.toByte)
      var row = 0
      while (row < hp) {
        val base = rawBase + row * (strideI + 1)
        val ft = u8(raw, base)
        System.arraycopy(raw, base + 1, cur, 0, strideI)
        (ft: @annotation.switch) match {
          case 0 => ()
          case 1 => // Sub: + byte bpp to the left
            var x = bpp
            while (x < strideI) { cur(x) = (cur(x) + cur(x - bpp)).toByte; x += 1 }
          case 2 => // Up: + byte above
            var x = 0
            while (x < strideI) { cur(x) = (cur(x) + prev(x)).toByte; x += 1 }
          case 3 => // Average: + floor((left + above) / 2)
            var x = 0
            while (x < strideI) {
              val a = if (x >= bpp) u8(cur, x - bpp) else 0
              cur(x) = (u8(cur, x) + ((a + u8(prev, x)) >> 1)).toByte
              x += 1
            }
          case 4 => // Paeth: + nearest of (left, above, upper-left) to p=a+b-c
            var x = 0
            while (x < strideI) {
              val a = if (x >= bpp) u8(cur, x - bpp) else 0
              val up = u8(prev, x)
              val c = if (x >= bpp) u8(prev, x - bpp) else 0
              val p = a + up - c
              val pa = math.abs(p - a); val pb = math.abs(p - up)
              val pc = math.abs(p - c)
              val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
              cur(x) = (u8(cur, x) + pred).toByte
              x += 1
            }
          case _ => return null // invalid filter type
        }
        // emit as 3-byte pixels on the (possibly stepped) output grid
        var p = 0
        while (p < wp) {
          val d = ((y0 + row * dy) * w + x0 + p * dx) * 3
          if (bitDepth < 8) {
            // MSB-first packed sample p of this row
            val bit = p * bitDepth
            val v = (u8(cur, bit >> 3) >> (8 - bitDepth - (bit & 7))) &
              ((1 << bitDepth) - 1)
            if (colorType == 3) {
              if (v >= np) return null
              out(d) = plte(3 * v); out(d + 1) = plte(3 * v + 1)
              out(d + 2) = plte(3 * v + 2)
            } else {
              val g = (v * grayScale).toByte
              out(d) = g; out(d + 1) = g; out(d + 2) = g
            }
          } else colorType match {
            case 0 | 4 => // gray / gray+alpha (alpha dropped)
              val g = cur(p * spp * step)
              out(d) = g; out(d + 1) = g; out(d + 2) = g
            case 3 =>
              val v = u8(cur, p)
              if (v >= np) return null
              out(d) = plte(3 * v); out(d + 1) = plte(3 * v + 1)
              out(d + 2) = plte(3 * v + 2)
            case _ => // RGB / RGBA (alpha dropped)
              out(d) = cur(p * spp * step)
              out(d + 1) = cur((p * spp + 1) * step)
              out(d + 2) = cur((p * spp + 2) * step)
          }
          p += 1
        }
        System.arraycopy(cur, 0, prev, 0, strideI)
        row += 1
      }
      rawBase += (strideI + 1) * hp
    }
    out
  }

  /** Valid PNG from raw samples (length w·h·channels for color type
    * 0 → 1, 2 → 3, 6 → 4): per-row FORWARD filtering with the filter
    * type chosen by `filterFor(row)` (0–4), zlib-deflated IDAT, CRC'd
    * chunks — the exact inverse of [[pngPixelBytes]] and the write-side
    * proof it reverses real filters, not a private convention.
    */
  def synthPng(width: Int, height: Int, colorType: Int,
      samples: Array[Byte], filterFor: Int => Int): Array[Byte] = {
    val ch = colorType match {
      case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
      case _ => throw new IllegalArgumentException(
        s"unsupported color type $colorType (use 0, 2, 4, or 6)")
    }
    require(samples.length == width * height * ch,
      s"need $width*$height*$ch sample bytes, got ${samples.length}")
    val stride = width * ch
    val bpp = ch
    val raw = new Array[Byte]((stride + 1) * height)
    var row = 0
    while (row < height) {
      val ft = filterFor(row)
      require(ft >= 0 && ft <= 4, s"filter type must be 0..4: $ft")
      raw(row * (stride + 1)) = ft.toByte
      var x = 0
      while (x < stride) {
        val v = u8(samples, row * stride + x)
        val a = if (x >= bpp) u8(samples, row * stride + x - bpp) else 0
        val up = if (row > 0) u8(samples, (row - 1) * stride + x) else 0
        val c = if (row > 0 && x >= bpp) u8(samples, (row - 1) * stride + x - bpp) else 0
        val pred = (ft: @annotation.switch) match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) >> 1
          case _ =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
        }
        raw(row * (stride + 1) + 1 + x) = (v - pred).toByte
        x += 1
      }
      row += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zBuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) zBuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val z = zBuf.toByteArray
    def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(tpe.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tpe.getBytes("US-ASCII")); crc.update(data)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(colorType.toByte)          // depth, color
      .put(0.toByte).put(0.toByte).put(0.toByte)    // comp, filter, interlace
      .array()
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", z) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** RGB convenience overload of [[synthPng]] (color type 2). */
  def synthPng(width: Int, height: Int, pixels: Array[Byte],
      filterFor: Int => Int): Array[Byte] =
    synthPng(width, height, 2, pixels, filterFor)

  /** Assemble a PNG from pre-filtered raw scanline bytes (each row
    * already prefixed with its filter byte): deflate, CRC, chunk —
    * shared tail of the three synthesizers. `extraChunks` (e.g. a
    * PLTE) land between IHDR and IDAT.
    */
  private def pngAssemble(width: Int, height: Int, bitDepth: Int,
      colorType: Int, raw: Array[Byte],
      extraChunks: Seq[(String, Array[Byte])]): Array[Byte] = {
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zBuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) zBuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(tpe.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tpe.getBytes("US-ASCII")); crc.update(data)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(bitDepth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    sig ++ chunk("IHDR", ihdr) ++
      extraChunks.flatMap { case (t, d) => chunk(t, d) } ++
      chunk("IDAT", zBuf.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
  }

  /** Valid Adam7-INTERLACED PNG at depth 8 (color types 0/2/4/6) from
    * logical samples: pixels regrouped into the seven pass sub-images
    * (empty passes wholly absent), each pass filtered independently
    * with `filterFor(globalRow)` — the write-side counterpart of
    * [[pngPixelBytes]]'s interlaced path.
    */
  def synthPngAdam7(width: Int, height: Int, colorType: Int,
      samples: Array[Byte], filterFor: Int => Int): Array[Byte] = {
    val ch = colorType match {
      case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
      case _ => throw new IllegalArgumentException(
        s"unsupported color type $colorType (use 0, 2, 4, or 6)")
    }
    require(samples.length == width * height * ch,
      s"need $width*$height*$ch sample bytes, got ${samples.length}")
    val grid = Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val raw = new java.io.ByteArrayOutputStream()
    for ((x0, y0, dx, dy) <- grid) {
      val wp = if (width > x0) (width - x0 + dx - 1) / dx else 0
      val hp = if (height > y0) (height - y0 + dy - 1) / dy else 0
      if (wp > 0 && hp > 0) {
        val stride = wp * ch
        val prevRow = new Array[Byte](stride)
        val curRow = new Array[Byte](stride)
        for (row <- 0 until hp) {
          var p = 0
          while (p < wp) {
            val src = ((y0 + row * dy) * width + x0 + p * dx) * ch
            var c = 0
            while (c < ch) { curRow(p * ch + c) = samples(src + c); c += 1 }
            p += 1
          }
          val ft = filterFor(y0 + row * dy)
          require(ft >= 0 && ft <= 4, s"filter type must be 0..4: $ft")
          raw.write(ft)
          var k = 0
          while (k < stride) {
            val v = u8(curRow, k)
            val a = if (k >= ch) u8(curRow, k - ch) else 0
            val up = if (row > 0) u8(prevRow, k) else 0
            val cc = if (row > 0 && k >= ch) u8(prevRow, k - ch) else 0
            val pred = (ft: @annotation.switch) match {
              case 0 => 0
              case 1 => a
              case 2 => up
              case 3 => (a + up) >> 1
              case _ =>
                val pp = a + up - cc
                val pa = math.abs(pp - a); val pb = math.abs(pp - up)
                val pc = math.abs(pp - cc)
                if (pa <= pb && pa <= pc) a else if (pb <= pc) up else cc
            }
            raw.write((v - pred) & 0xFF)
            k += 1
          }
          System.arraycopy(curRow, 0, prevRow, 0, stride)
        }
      }
    }
    val full = pngAssembleInterlaced(width, height, 8, colorType,
      raw.toByteArray)
    full
  }

  /** [[pngAssemble]] with the IHDR interlace flag set to Adam7. */
  private def pngAssembleInterlaced(width: Int, height: Int, bitDepth: Int,
      colorType: Int, raw: Array[Byte]): Array[Byte] = {
    val plain = pngAssemble(width, height, bitDepth, colorType, raw, Seq.empty)
    // patch interlace byte (offset 28) and re-CRC the IHDR chunk
    plain(28) = 1.toByte
    val crc = new java.util.zip.CRC32()
    crc.update(plain, 12, 4 + 13) // type + data
    val v = crc.getValue.toInt
    plain(29) = (v >> 24).toByte; plain(30) = (v >> 16).toByte
    plain(31) = (v >> 8).toByte; plain(32) = v.toByte
    plain
  }

  /** Valid palette PNG (color type 3) at depth 1/2/4/8: a real PLTE
    * chunk (RGB triples), indices packed MSB-first at the depth, and
    * per-row filtering at one-byte distance with the filter type from
    * `filterFor(row)` — the exact write-side counterpart of
    * [[pngPixelBytes]]'s palette path.
    */
  def synthPngPal(width: Int, height: Int, depth: Int,
      paletteRgb: Array[Int], indices: Array[Int],
      filterFor: Int => Int): Array[Byte] = {
    require(depth == 1 || depth == 2 || depth == 4 || depth == 8,
      s"palette depth must be 1/2/4/8: $depth")
    val np = paletteRgb.length / 3
    require(paletteRgb.length == 3 * np && np >= 1 && np <= (1 << depth),
      s"palette must be 3*np RGB values with np <= 2^$depth")
    require(indices.length == width * height,
      s"need $width*$height indices, got ${indices.length}")
    val stride = (width * depth + 7) / 8
    val raw = new Array[Byte]((stride + 1) * height)
    val packed = new Array[Byte](stride) // current row, unfiltered
    val prevRow = new Array[Byte](stride)
    var row = 0
    while (row < height) {
      java.util.Arrays.fill(packed, 0.toByte)
      var x = 0
      while (x < width) {
        val idx = indices(row * width + x)
        require(idx >= 0 && idx < np, s"index $idx out of palette range")
        val bit = x * depth
        packed(bit >> 3) =
          (packed(bit >> 3) | (idx << (8 - depth - (bit & 7)))).toByte
        x += 1
      }
      val ft = filterFor(row)
      require(ft >= 0 && ft <= 4, s"filter type must be 0..4: $ft")
      raw(row * (stride + 1)) = ft.toByte
      var k = 0
      while (k < stride) {
        val v = u8(packed, k)
        val a = if (k >= 1) u8(packed, k - 1) else 0
        val up = if (row > 0) u8(prevRow, k) else 0
        val c = if (row > 0 && k >= 1) u8(prevRow, k - 1) else 0
        val pred = (ft: @annotation.switch) match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) >> 1
          case _ =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
        }
        raw(row * (stride + 1) + 1 + k) = (v - pred).toByte
        k += 1
      }
      System.arraycopy(packed, 0, prevRow, 0, stride)
      row += 1
    }
    val plte = new Array[Byte](3 * np)
    for (i <- plte.indices) plte(i) = (paletteRgb(i) & 0xFF).toByte
    pngAssemble(width, height, depth, 3, raw, Seq("PLTE" -> plte))
  }

  /** Valid 16-bit grayscale PNG (color type 0): sample `i`'s 16-bit
    * value is `hi(i)·256 + lo(i)` big-endian, filtered per row at the
    * 2-byte distance — write-side proof the decoder reads the HIGH
    * byte of 16-bit samples.
    */
  def synthPngGray16(width: Int, height: Int, hi: Array[Byte],
      lo: Array[Byte], filterFor: Int => Int): Array[Byte] = {
    require(hi.length == width * height && lo.length == width * height,
      s"need $width*$height hi and lo bytes")
    val stride = width * 2
    val raw = new Array[Byte]((stride + 1) * height)
    var row = 0
    while (row < height) {
      val ft = filterFor(row)
      require(ft >= 0 && ft <= 4, s"filter type must be 0..4: $ft")
      raw(row * (stride + 1)) = ft.toByte
      var k = 0
      while (k < stride) {
        def sample(r: Int, kk: Int): Int = {
          val p = r * width + kk / 2
          if (kk % 2 == 0) u8(hi, p) else u8(lo, p)
        }
        val v = sample(row, k)
        val a = if (k >= 2) sample(row, k - 2) else 0
        val up = if (row > 0) sample(row - 1, k) else 0
        val c = if (row > 0 && k >= 2) sample(row - 1, k - 2) else 0
        val pred = (ft: @annotation.switch) match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) >> 1
          case _ =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
        }
        raw(row * (stride + 1) + 1 + k) = (v - pred).toByte
        k += 1
      }
      row += 1
    }
    pngAssemble(width, height, 16, 0, raw, Seq.empty)
  }

  // --- real TIFF pixel decode: IFD walk + uncompressed strips --------
  // Baseline TIFF (the scanned-document format) at 8-bit gray/RGB with
  // Compression=1 is pure layout: an IFD tag walk in either byte order
  // and strip concatenation — no codec. LZW/JPEG-in-TIFF variants
  // degrade to null.

  /** Decode an uncompressed 8-bit grayscale or RGB TIFF (II or MM
    * byte order, chunky planar config, any strip layout) into logical
    * top-down 3-bytes-per-pixel rows (gray replicated ×3). Null for
    * compressed/planar/other-depth variants or any malformed
    * structure — degrade-don't-throw like every decoder here.
    */
  /** First-IFD tag table of a TIFF (SHORT/LONG values, inline or
    * out-of-line, either byte order); null if not a well-formed TIFF
    * header. Shared by [[parse]] (dimensions) and [[tiffPixelBytes]].
    */
  private def tiffTags(b: Array[Byte]): scala.collection.Map[Int, Array[Long]] = try {
    if (b.length < 8) return null
    val le = b(0) == 'I'.toByte && b(1) == 'I'.toByte
    val isBe = b(0) == 'M'.toByte && b(1) == 'M'.toByte
    if (!le && !isBe) return null
    def r16(i: Int): Int = if (le) leU16(b, i) else beU16(b, i)
    def r32(i: Int): Long = if (le) leU32(b, i) else beU32(b, i)
    if (r16(2) != 42) return null
    val ifd = r32(4)
    if (ifd < 8 || ifd + 2 > b.length) return null
    val n = r16(ifd.toInt)
    val tags = scala.collection.mutable.Map.empty[Int, Array[Long]]
    var k = 0
    while (k < n) {
      val e = ifd.toInt + 2 + 12 * k
      if (e + 12 > b.length) return null
      val tag = r16(e); val tpe = r16(e + 2); val cnt = r32(e + 4)
      val sz = tpe match { case 3 => 2; case 4 => 4; case _ => 0 }
      if (sz > 0 && cnt > 0 && cnt <= 65536) {
        val total = sz * cnt
        val base =
          if (total <= 4) e + 8
          else {
            val off = r32(e + 8)
            if (off + total > b.length) return null
            off.toInt
          }
        tags(tag) = Array.tabulate(cnt.toInt)(j =>
          if (sz == 2) r16(base + 2 * j).toLong else r32(base + 4 * j))
      }
      k += 1
    }
    tags
  } catch { case _: IndexOutOfBoundsException => null }

  /** PackBits (Apple RLE, TIFF Compression=32773) decode of exactly
    * `expected` bytes from `d[off, off+len)`: n ≥ 0 → n+1 literal
    * bytes, n in -127..-1 → the next byte repeated 1-n times, -128 →
    * no-op. Null on any over/under-run.
    */
  private def packbitsDecode(d: Array[Byte], off: Int, len: Int,
      expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var outN = 0; var p = off; val end = off + len
    while (outN < expected && p < end) {
      val n = d(p); p += 1
      if (n >= 0) {
        if (p + n + 1 > end || outN + n + 1 > expected) return null
        var i = 0
        while (i <= n) { out(outN) = d(p); p += 1; outN += 1; i += 1 }
      } else if (n != -128) {
        if (p >= end) return null
        val cnt = 1 - n
        if (outN + cnt > expected) return null
        val v = d(p); p += 1
        var i = 0
        while (i < cnt) { out(outN) = v; outN += 1; i += 1 }
      }
    }
    if (outN != expected) return null
    out
  }

  /** Zlib (TIFF Compression=8 "Adobe deflate" / 32946) decode of a
    * strip that inflates to exactly `expected` bytes. Null otherwise.
    */
  private def zlibDecode(d: Array[Byte], off: Int, len: Int,
      expected: Int): Array[Byte] = {
    val r = Capped.inflate(d, off, len, expected, expected, raw = false)
    if (r == null || r.bytes.length != expected) null else r.bytes
  }

  /** TIFF-flavor LZW (Compression=5) decode of exactly `expected`
    * bytes: MSB-first bit packing, 8-bit symbols, Clear=256 / EOI=257,
    * 9→12-bit codes with the spec's "EARLY change" (the decoder widens
    * when the table reaches 2ⁿ-1 entries — one code sooner than the
    * GIF/giflib convention; the off-by-one is enshrined in the TIFF6
    * spec and what libtiff emits). Null on truncation or a malformed
    * code.
    */
  private def lzwDecodeTiff(d: Array[Byte], off: Int, len: Int,
      expected: Int): Array[Byte] = {
    val clear = 256; val eoi = 257
    val maxCodes = 4096
    val prefix = new Array[Int](maxCodes)
    val suffix = new Array[Int](maxCodes)
    var dictSize = 258
    var codeSize = 9
    val out = new Array[Byte](expected)
    var outN = 0
    var bitPos = 0L
    val totalBits = len * 8L
    def read(): Int = {
      if (bitPos + codeSize > totalBits) return -1
      var v = 0
      var i = 0
      while (i < codeSize) {
        val bp = bitPos + i
        v = (v << 1) | ((d(off + (bp >> 3).toInt) >> (7 - (bp & 7).toInt)) & 1)
        i += 1
      }
      bitPos += codeSize
      v
    }
    val stack = new Array[Int](maxCodes + 1)
    var prev = -1
    var prevFirst = 0
    while (outN < expected) {
      val code = read()
      if (code < 0) return null
      if (code == clear) { dictSize = 258; codeSize = 9; prev = -1 }
      else if (code == eoi) return null // EOI before the strip filled
      else {
        var sp = 0
        var cur = code
        if (code >= dictSize) {
          if (code != dictSize || prev < 0) return null
          stack(sp) = prevFirst; sp += 1 // KwKwK
          cur = prev
        }
        while (cur >= 258) { stack(sp) = suffix(cur); sp += 1; cur = prefix(cur) }
        if (cur >= 256) return null
        stack(sp) = cur; sp += 1
        val first = cur
        while (sp > 0) {
          sp -= 1
          if (outN >= expected) return null
          out(outN) = stack(sp).toByte; outN += 1
        }
        if (prev >= 0 && dictSize < maxCodes) {
          prefix(dictSize) = prev; suffix(dictSize) = first
          dictSize += 1
          // EARLY change: one code sooner than [[lzwDecode]]'s GIF rule
          if (dictSize == (1 << codeSize) - 1 && codeSize < 12) codeSize += 1
        }
        prev = code
        prevFirst = first
      }
    }
    out
  }

  /** Decode a TIFF (II or MM byte order, chunky planar config, strip
    * OR tile layout) into logical top-down 3-bytes-per-pixel rows
    * (8-bit gray replicated ×3 — BlackIsZero or the fax/scan-default
    * WhiteIsZero inverted — 8-bit palette resolved through the 16-bit
    * ColorMap, or 8-bit RGB). Compression: none (1),
    * LZW (5, early-change convention), zlib Deflate (8/32946), or
    * PackBits (32773); horizontal-differencing Predictor (tag 317 =
    * 2) is reversed after decompression; tiled layouts (TileWidth/
    * TileLength/TileOffsets/TileByteCounts) decompress each FULL
    * padded tile and clip the edge overhang, per TIFF6 §15 — together
    * the profiles real scanned-document corpora ship in. Null for
    * planar/other-depth variants or any malformed structure —
    * degrade-don't-throw like every decoder here.
    */
  def tiffPixelBytes(b: Array[Byte]): Array[Byte] = try {
    val tags = tiffTags(b)
    if (tags == null) return null
    def one(tag: Int, default: Long): Long =
      tags.get(tag).map(_.head).getOrElse(default)
    val w = one(256, -1).toInt; val h = one(257, -1).toInt
    if (w <= 0 || h <= 0 || w.toLong * h * 3 > (1L << 30)) return null
    val comp = one(259, 1)
    if (comp != 1L && comp != 5L && comp != 8L && comp != 32946L &&
      comp != 32773L) return null
    val predictor = one(317, 1)
    if (predictor != 1L && predictor != 2L) return null
    val spp = one(277, 1).toInt
    if (spp != 1 && spp != 3) return null
    val photo = one(262, if (spp == 3) 2L else 1L)
    // spp 3 must be RGB (2); spp 1 may be BlackIsZero (1), the
    // fax/scan-default WhiteIsZero (0, inverted), or palette (3,
    // resolved through the 16-bit ColorMap tag)
    if (spp == 3 && photo != 2L) return null
    if (spp == 1 && photo != 0L && photo != 1L && photo != 3L) return null
    val bits = tags.getOrElse(258, Array.fill(spp)(8L))
    if (bits.length != spp || bits.exists(_ != 8L)) return null
    val colorMap: Array[Long] =
      if (photo == 3L) {
        val cm = tags.getOrElse(320, return null)
        if (cm.length != 3 * 256) return null // 3 · 2^bits SHORT entries
        cm
      } else null
    if (one(284, 1) != 1) return null            // chunky planar only

    /** Decompress one strip/tile to exactly `expect` bytes and undo
      * the predictor at the chunk's OWN row width. Null on corruption.
      */
    def decodeChunk(o: Long, c: Long, expect: Int, rows: Int,
        chunkRowBytes: Int): Array[Byte] = {
      if (o < 0 || c < 0 || c > b.length - o) return null
      val chunk: Array[Byte] = comp match {
        case 1L =>
          if (c != expect) return null
          java.util.Arrays.copyOfRange(b, o.toInt, o.toInt + expect)
        case 5L => lzwDecodeTiff(b, o.toInt, c.toInt, expect)
        case 8L | 32946L => zlibDecode(b, o.toInt, c.toInt, expect)
        case _ => packbitsDecode(b, o.toInt, c.toInt, expect)
      }
      if (chunk != null && predictor == 2L) {
        // horizontal differencing: sample x adds sample x-spp, per row
        var r = 0
        while (r < rows) {
          var x = spp
          while (x < chunkRowBytes) {
            chunk(r * chunkRowBytes + x) =
              (chunk(r * chunkRowBytes + x) +
                chunk(r * chunkRowBytes + x - spp)).toByte
            x += 1
          }
          r += 1
        }
      }
      chunk
    }

    val rowBytes = w * spp
    val total = w.toLong * h * spp
    val raw = new Array[Byte](total.toInt)
    if (tags.contains(324)) {
      // --- tiled layout -----------------------------------------------
      val tw = one(322, -1).toInt; val th = one(323, -1).toInt
      if (tw <= 0 || th <= 0) return null
      if (tw.toLong * th * spp > (1L << 28)) return null // forged tile dims
      val tilesAcross = (w + tw - 1) / tw
      val tilesDown = (h + th - 1) / th
      val tOffs = tags.getOrElse(324, return null)
      val tCnts = tags.getOrElse(325, return null)
      if (tOffs.length != tilesAcross * tilesDown ||
        tCnts.length != tOffs.length) return null
      val tileRowBytes = tw * spp
      val expect = tileRowBytes * th // edge tiles are FULL padded size
      var ty = 0
      while (ty < tilesDown) {
        var tx = 0
        while (tx < tilesAcross) {
          val idx = ty * tilesAcross + tx
          val tile = decodeChunk(tOffs(idx), tCnts(idx), expect, th,
            tileRowBytes)
          if (tile == null) return null
          // clip the padded overhang into the output grid
          val copyRows = math.min(th, h - ty * th)
          val copyBytes = math.min(tw, w - tx * tw) * spp
          var r = 0
          while (r < copyRows) {
            System.arraycopy(tile, r * tileRowBytes, raw,
              (ty * th + r) * rowBytes + tx * tw * spp, copyBytes)
            r += 1
          }
          tx += 1
        }
        ty += 1
      }
    } else {
      // --- strip layout -----------------------------------------------
      val offs = tags.getOrElse(273, return null)  // StripOffsets
      val cnts = tags.getOrElse(279, return null)  // StripByteCounts
      if (offs.length != cnts.length) return null
      val rps0 = one(278, h.toLong)
      if (rps0 <= 0) return null
      val rps = math.min(rps0, h.toLong).toInt
      val nStrips = (h + rps - 1) / rps
      if (offs.length != nStrips) return null
      var p = 0
      var s = 0
      while (s < nStrips) {
        val rows = math.min(rps, h - s * rps)
        val expect = rows * rowBytes
        val chunk = decodeChunk(offs(s), cnts(s), expect, rows, rowBytes)
        if (chunk == null) return null
        System.arraycopy(chunk, 0, raw, p, expect)
        p += expect
        s += 1
      }
    }
    if (spp == 3) raw
    else {
      val out = new Array[Byte](w * h * 3)
      var i = 0
      while (i < w * h) {
        if (photo == 3L) {
          // ColorMap entries are 16-bit per TIFF6; fold to 8 by the
          // high byte (the convention libtiff's rgba readers use)
          val j = raw(i) & 0xFF
          out(3 * i) = (colorMap(j) >> 8).toByte
          out(3 * i + 1) = (colorMap(256 + j) >> 8).toByte
          out(3 * i + 2) = (colorMap(512 + j) >> 8).toByte
        } else {
          val g = if (photo == 0L) (255 - (raw(i) & 0xFF)).toByte // WhiteIsZero
                  else raw(i)
          out(3 * i) = g; out(3 * i + 1) = g; out(3 * i + 2) = g
        }
        i += 1
      }
      out
    }
  } catch { case _: IndexOutOfBoundsException => null }

  /** PackBits encode, restarting at each `rowBytes` boundary (the
    * TIFF spec's per-scanline convention) — runs ≥ 2 as repeat
    * packets, literals chunked to 128. Exact inverse of
    * [[packbitsDecode]].
    */
  private def packbitsEncode(data: Array[Byte], rowBytes: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var rowStart = 0
    while (rowStart < data.length) {
      val rowEnd = math.min(rowStart + rowBytes, data.length)
      var p = rowStart
      while (p < rowEnd) {
        // length of the run starting at p (capped at 128)
        var run = 1
        while (p + run < rowEnd && run < 128 && data(p + run) == data(p)) run += 1
        if (run >= 2) {
          out.write(1 - run)
          out.write(data(p))
          p += run
        } else {
          // literal stretch until the next run of ≥ 2 (or 128 bytes)
          var lit = 1
          while (p + lit < rowEnd && lit < 128 &&
            !(p + lit + 1 < rowEnd && data(p + lit) == data(p + lit + 1))) lit += 1
          out.write(lit - 1)
          out.write(data, p, lit)
          p += lit
        }
      }
      rowStart = rowEnd
    }
    out.toByteArray
  }

  /** TIFF-flavor LZW encode — the exact inverse of [[lzwDecodeTiff]]:
    * MSB-first packing, a leading Clear (the spec requires each strip
    * to start with one), the EARLY code-width change in lockstep with
    * the decoder's, a Clear + reset before the table overflows, and a
    * trailing EOI.
    */
  private def lzwEncodeTiff(data: Array[Byte]): Array[Byte] = {
    val clear = 256; val eoi = 257
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    var codeSize = 9
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << codeSize) | code; bitCnt += codeSize
      while (bitCnt >= 8) {
        out.write(((bitBuf >> (bitCnt - 8)) & 0xFF).toInt); bitCnt -= 8
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var dictSize = 258
    put(clear)
    var prev = -1
    for (byte <- data) {
      val s = byte & 0xFF
      if (prev < 0) prev = s
      else dict.get((prev, s)) match {
        case Some(c) => prev = c
        case None =>
          put(prev)
          dict((prev, s)) = dictSize
          dictSize += 1
          // one entry PAST the decoder's early-change point — both
          // then widen between the same two emitted codes
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
          if (dictSize == 4094) { // clear before the 12-bit table fills
            put(clear)
            dict.clear(); dictSize = 258; codeSize = 9
          }
          prev = s
      }
    }
    if (prev >= 0) put(prev)
    put(eoi)
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xFF).toInt)
    out.toByteArray
  }

  /** Valid TIFF from raw samples (`w·h·spp` bytes, spp 1 or 3) in the
    * chosen byte order, with the layout REAL — strips (`rowsPerStrip`
    * row bands, per-strip offsets/byte counts, out-of-line arrays
    * where values exceed the 4-byte inline field) or, with
    * `tileSize` > 0 (a multiple of 16 per TIFF6 §15), square tiles
    * whose edge chunks are zero-padded to FULL tile size — and the
    * chunk data written under `compression` 1 (none), 5 (LZW,
    * early-change), 8 (zlib Deflate), or 32773 (PackBits), optionally
    * horizontally differenced (`predictor` 2, tag 317) first — the
    * exact write-side counterpart of [[tiffPixelBytes]].
    */
  def synthTiff(width: Int, height: Int, spp: Int, samples: Array[Byte],
      bigEndian: Boolean = false, rowsPerStrip: Int = 0,
      compression: Int = 1, predictor: Int = 1,
      tileSize: Int = 0, photometric: Int = -1,
      colorMap: Array[Int] = null): Array[Byte] = {
    require(spp == 1 || spp == 3, s"spp must be 1 or 3: $spp")
    require(samples.length == width * height * spp,
      s"need $width*$height*$spp sample bytes, got ${samples.length}")
    require(compression == 1 || compression == 5 || compression == 8 ||
      compression == 32773, s"compression must be 1|5|8|32773: $compression")
    require(predictor == 1 || predictor == 2,
      s"predictor must be 1 or 2: $predictor")
    require(tileSize == 0 || tileSize % 16 == 0,
      s"tile size must be a multiple of 16: $tileSize") // TIFF6 §15
    // -1 picks the natural photometric (1 gray / 2 RGB); spp-1 images
    // may instead be 0 (WhiteIsZero) or 3 (palette, with a 768-entry
    // 16-bit ColorMap)
    val photo =
      if (photometric >= 0) photometric else if (spp == 3) 2 else 1
    require(if (spp == 3) photo == 2 else Set(0, 1, 3)(photo),
      s"photometric $photo invalid for spp $spp")
    require((photo == 3) == (colorMap != null),
      "colorMap exactly when photometric = 3")
    require(colorMap == null || colorMap.length == 3 * 256,
      s"ColorMap needs 3*256 entries: ${if (colorMap == null) 0 else colorMap.length}")
    val tiled = tileSize > 0

    def diffAndCompress(plain: Array[Byte], rows: Int,
        chunkRowBytes: Int): Array[Byte] = {
      if (predictor == 2) {
        var r = 0
        while (r < rows) {
          var x = chunkRowBytes - 1
          while (x >= spp) {
            plain(r * chunkRowBytes + x) =
              (plain(r * chunkRowBytes + x) -
                plain(r * chunkRowBytes + x - spp)).toByte
            x -= 1
          }
          r += 1
        }
      }
      compression match {
        case 1 => plain
        case 5 => lzwEncodeTiff(plain)
        case 32773 => packbitsEncode(plain, chunkRowBytes)
        case _ =>
          val d = new java.util.zip.Deflater()
          d.setInput(plain); d.finish()
          val z = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          while (!d.finished()) z.write(tmp, 0, d.deflate(tmp))
          d.end()
          z.toByteArray
      }
    }

    val rowBytes = width * spp
    // chunk payloads: strips of rowsPerStrip rows, or FULL padded tiles
    val chunkData: Array[Array[Byte]] =
      if (tiled) {
        val tw = tileSize; val th = tileSize
        val across = (width + tw - 1) / tw
        val down = (height + th - 1) / th
        Array.tabulate(across * down) { idx =>
          val tx = idx % across; val ty = idx / across
          val plain = new Array[Byte](tw * spp * th) // zero-padded edges
          val copyRows = math.min(th, height - ty * th)
          val copyBytes = math.min(tw, width - tx * tw) * spp
          var r = 0
          while (r < copyRows) {
            System.arraycopy(samples, (ty * th + r) * rowBytes + tx * tw * spp,
              plain, r * tw * spp, copyBytes)
            r += 1
          }
          diffAndCompress(plain, th, tw * spp)
        }
      } else {
        val rps = if (rowsPerStrip <= 0) height else rowsPerStrip
        val nStrips = (height + rps - 1) / rps
        Array.tabulate(nStrips) { s =>
          val rows = math.min(rps, height - s * rps)
          diffAndCompress(java.util.Arrays.copyOfRange(samples,
            (s * rps) * rowBytes, (s * rps + rows) * rowBytes), rows, rowBytes)
        }
      }
    val nChunks = chunkData.length
    val rps = if (rowsPerStrip <= 0) height else rowsPerStrip
    // strips: 273/278/279 (3 entries); tiles: 322/323/324/325 (4)
    val nEntries = 6 + (if (tiled) 4 else 3) +
      (if (predictor == 2) 1 else 0) + (if (colorMap != null) 1 else 0)
    val ifdSize = 2 + nEntries * 12 + 4
    val ifdOff = 8
    var extra = ifdOff + ifdSize
    val bitsOff = extra
    if (spp == 3) extra += 6            // 3×SHORT out of line
    val mapOff = extra
    if (colorMap != null) extra += 2 * 3 * 256 // ColorMap SHORTs
    val offsOff = extra
    if (nChunks > 1) extra += 4 * nChunks
    val cntsOff = extra
    if (nChunks > 1) extra += 4 * nChunks
    val dataOff = extra
    val chunkBytes = chunkData.map(_.length)
    val chunkOffs = chunkBytes.scanLeft(dataOff)(_ + _).dropRight(1)
    val buf = java.nio.ByteBuffer.allocate(dataOff + chunkBytes.sum)
      .order(if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN
             else java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put((if (bigEndian) "MM" else "II").getBytes)
    buf.putShort(42).putInt(ifdOff)
    buf.putShort(nEntries.toShort)
    def entry(tag: Int, tpe: Int, cnt: Int, inline: Long): Unit = {
      buf.putShort(tag.toShort).putShort(tpe.toShort).putInt(cnt)
      if (tpe == 3 && cnt == 1) buf.putShort(inline.toShort).putShort(0)
      else buf.putInt(inline.toInt)
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    if (spp == 1) entry(258, 3, 1, 8) else entry(258, 3, 3, bitsOff)
    entry(259, 3, 1, compression)
    entry(262, 3, 1, photo)                   // Photometric
    if (!tiled) {
      if (nChunks == 1) entry(273, 4, 1, dataOff)
      else entry(273, 4, nChunks, offsOff)
    }
    entry(277, 3, 1, spp)
    if (!tiled) {
      entry(278, 4, 1, rps)
      if (nChunks == 1) entry(279, 4, 1, chunkBytes(0))
      else entry(279, 4, nChunks, cntsOff)
    }
    if (predictor == 2) entry(317, 3, 1, 2)
    if (colorMap != null) entry(320, 3, 3 * 256, mapOff)
    if (tiled) {
      entry(322, 4, 1, tileSize)
      entry(323, 4, 1, tileSize)
      if (nChunks == 1) entry(324, 4, 1, dataOff)
      else entry(324, 4, nChunks, offsOff)
      if (nChunks == 1) entry(325, 4, 1, chunkBytes(0))
      else entry(325, 4, nChunks, cntsOff)
    }
    buf.putInt(0)                             // no next IFD
    if (spp == 3) { buf.putShort(8); buf.putShort(8); buf.putShort(8) }
    if (colorMap != null) colorMap.foreach(v => buf.putShort(v.toShort))
    if (nChunks > 1) {
      chunkOffs.foreach(buf.putInt)
      chunkBytes.foreach(buf.putInt)
    }
    chunkData.foreach(buf.put)
    buf.array()
  }

  // --- dataset-shard containers: tar (WebDataset) and WARC (crawls) --
  // The two container formats large-scale training corpora actually
  // ship in: tar shards of grouped sample files (the WebDataset
  // convention) and WARC web-crawl archives. Both are pure byte/text
  // layouts — header arithmetic, no codec.

  /** One tar entry: `offset` is the absolute position of the entry's
    * DATA (the 512-byte header — and, for old-GNU sparse members,
    * the sparse-map continuation blocks — precede it), `typeflag` per
    * ustar ('0'/NUL regular file, '5' directory, 'S' old-GNU
    * sparse, …). For sparse members `size` is the PACKED data-region
    * length, `realSize` the logical file size, and `sparse` the
    * (logicalOffset, fragmentLength) map; use [[tarEntryBytes]] to
    * expand. Regular members carry realSize = size, sparse = null.
    */
  final case class TarEntry(name: String, size: Long, offset: Long,
      typeflag: Char, realSize: Long = -1L,
      sparse: Array[(Long, Long)] = null)

  /** A tar entry's CONTENT bytes: the data region verbatim for
    * regular members; the hole-reconstructed logical file (fragments
    * copied at their offsets over zeros) for old-GNU sparse members.
    */
  def tarEntryBytes(b: Array[Byte], e: TarEntry): Array[Byte] = {
    if (e.typeflag != 'S' || e.sparse == null)
      return java.util.Arrays.copyOfRange(b, e.offset.toInt,
        (e.offset + e.size).toInt)
    val out = new Array[Byte](e.realSize.toInt)
    var src = e.offset.toInt
    for ((fo, fn) <- e.sparse) {
      System.arraycopy(b, src, out, fo.toInt, fn.toInt)
      src += fn.toInt
    }
    out
  }

  /** Parse the `len key=value\n` records of a PAX extended header
    * block (`len` is the DECIMAL byte length of the whole record,
    * including itself, the separating space, and the trailing
    * newline — POSIX.1-2001 pax Interchange Format). Returns the
    * key→value map, or null for a malformed block (a record whose
    * length field is non-numeric, out of range, or whose record does
    * not end in `\n`).
    */
  private def paxRecords(b: Array[Byte], off: Int,
      len: Int): scala.collection.Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var p = off
    val end = off + len
    while (p < end) {
      // decimal length prefix up to the first space
      var q = p; var n = 0L; var any = false
      while (q < end && b(q) >= '0'.toByte && b(q) <= '9'.toByte) {
        n = n * 10 + (b(q) - '0'); q += 1; any = true
        if (n > len) return null
      }
      if (!any || q >= end || b(q) != ' '.toByte) return null
      val recEnd = p + n.toInt
      if (recEnd > end || b(recEnd - 1) != '\n'.toByte) return null
      val body = new String(b, q + 1, recEnd - 1 - (q + 1),
        java.nio.charset.StandardCharsets.UTF_8)
      val eq = body.indexOf('=')
      if (eq < 0) return null
      m(body.substring(0, eq)) = body.substring(eq + 1)
      p = recEnd
    }
    m
  }

  /** Walk a (ustar) tar archive's headers: octal size fields, header
    * checksum VERIFIED (the field summed as spaces), the POSIX prefix
    * field joined onto long member paths, 512-byte data padding,
    * terminated by the end-of-archive zero block — which is REQUIRED:
    * an archive that just stops is a cut-off shard and returns null
    * rather than silently dropping the tail samples.
    *
    * Extension records are CONSUMED, not emitted: a PAX per-file
    * header (typeflag `x`) or global header (`g`) is parsed as
    * `len key=value\n` records whose `path` overrides the next file's
    * (respectively every following file's) name — Python's `tarfile`
    * writes PAX format BY DEFAULT since 3.8, so real WebDataset
    * shards are overwhelmingly this shape; a GNU longname (`L`)
    * supplies the next file's full name and a GNU longlink (`K`) is
    * skipped. Precedence: a per-file override (`x` beats `L`) beats
    * the `g` global default beats the ustar name+prefix fields — an
    * explicit per-file record always wins over a global one. Null for
    * a checksum mismatch,
    * truncated entry data, unparseable size, or a malformed PAX
    * block — degrade-don't-throw.
    */
  /** Skip-spaces/NULs-then-octal-digits field parse shared by every
    * tar header walk (reader, profile probe, container sniff) — the
    * convention GNU and POSIX tar both write. −1 when no digit found.
    */
  private def tarOctal(b: Array[Byte], i: Int, n: Int): Long = {
    var j = i; val end = i + n
    while (j < end && (b(j) == ' '.toByte || b(j) == 0)) j += 1
    var v = 0L; var any = false
    while (j < end && b(j) >= '0'.toByte && b(j) <= '7'.toByte) {
      v = v * 8 + (b(j) - '0'); j += 1; any = true
    }
    if (any) v else -1L
  }

  /** Whether the 512-byte tar header at `i` carries a valid checksum
    * (the field itself summed as spaces, per ustar). This is the one
    * practically unforgeable tar signal — the "ustar" magic alone sits
    * at offset 257 where arbitrary payload bytes of other formats can
    * land.
    */
  private def tarChecksumOk(b: Array[Byte], i: Int): Boolean = {
    if (i + 512 > b.length) return false
    val stored = tarOctal(b, i + 148, 8)
    if (stored < 0) return false
    var sum = 0L
    var k = 0
    while (k < 512) {
      sum += (if (k >= 148 && k < 156) 32 else u8(b, i + k)); k += 1
    }
    stored == sum
  }

  /** Strong tar-container sniff: ustar magic at 257 AND a validating
    * first-header checksum. Weak-magic formats (BMP's 2-byte `BM`,
    * …) can collide with archive member bytes, so classifiers must
    * test this BEFORE them.
    */
  def looksLikeTar(b: Array[Byte]): Boolean =
    b.length >= 512 && ascii(b, 257, 5) == "ustar" && tarChecksumOk(b, 0)

  def tarEntries(b: Array[Byte]): Array[TarEntry] = try {
    val out = scala.collection.mutable.ArrayBuffer.empty[TarEntry]
    def octal(i: Int, n: Int): Long = tarOctal(b, i, n)
    var off = 0L
    var globalPath: String = null  // PAX 'g' path default, if any
    var nextPath: String = null    // PAX 'x' / GNU 'L' override for the next file
    var nextFromPax = false        // 'x' beats 'L' if both precede one file
    while (off + 512 <= b.length) {
      val i = off.toInt
      var allZero = true
      var k = 0
      while (allZero && k < 512) { if (b(i + k) != 0) allZero = false; k += 1 }
      if (allZero) return out.toArray // end-of-archive block
      if (!tarChecksumOk(b, i)) return null // corrupt header
      val nameEnd = {
        var e = i
        while (e < i + 100 && b(e) != 0) e += 1
        e
      }
      val name = new String(b, i, nameEnd - i,
        java.nio.charset.StandardCharsets.UTF_8)
      val size = octal(i + 124, 12)
      if (size < 0) return null
      if (off + 512 + size > b.length) return null // truncated data
      if (size > Int.MaxValue - 1024) return null  // extension blobs are small
      val tf = b(i + 156) match { case 0 => '0'; case c => c.toChar }
      tf match {
        case 'x' | 'g' =>
          val recs = paxRecords(b, (off + 512).toInt, size.toInt)
          if (recs == null) return null // malformed PAX = corrupt shard
          recs.get("path").foreach { p =>
            if (tf == 'x') { nextPath = p; nextFromPax = true }
            else globalPath = p
          }
        case 'L' => // GNU longname: NUL-terminated full name for the next file
          if (!nextFromPax) {
            var e = (off + 512).toInt; val de = (off + 512 + size).toInt
            while (e < de && b(e) != 0) e += 1
            nextPath = new String(b, (off + 512).toInt, e - (off + 512).toInt,
              java.nio.charset.StandardCharsets.UTF_8)
          }
        case 'K' => () // GNU longlink: link target, not tracked here
        case 'V' => () // GNU volume label: archive metadata, skipped
        case _ =>
          // POSIX ustar stores the leading directories of >100-byte
          // paths in the 155-byte prefix field — only trusted under
          // the ustar magic (old-format headers carry arbitrary bytes
          // there)
          val ustarName =
            if (ascii(b, i + 257, 5) == "ustar" && b(i + 345) != 0 &&
                tf != 'S') {
              var e = i + 345
              while (e < i + 500 && b(e) != 0) e += 1
              new String(b, i + 345, e - (i + 345),
                java.nio.charset.StandardCharsets.UTF_8) + "/" + name
            } else name
          val full =
            if (nextPath != null) nextPath
            else if (globalPath != null) globalPath
            else ustarName
          nextPath = null; nextFromPax = false
          if (tf == 'S') {
            // old-GNU sparse: 4 map entries at 386 (offset+numbytes,
            // 12-octal each), isextended flag at 482, realsize at
            // 483; continuation blocks of 21 entries + flag at 504
            // sit BETWEEN header and data. An all-NUL entry ends the
            // map (GNU zero-fills unused slots).
            val frags = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            // returns false on malformed entries
            def readEntries(base: Int, count: Int): Boolean = {
              var k = 0
              while (k < count) {
                val o = base + k * 24
                if (b(o) == 0) return true // map end
                val fo = octal(o, 12)
                val fn = octal(o + 12, 12)
                if (fo < 0 || fn < 0) return false
                frags += ((fo, fn))
                k += 1
              }
              true
            }
            if (!readEntries(i + 386, 4)) return null
            var extBlocks = 0
            var ext = b(i + 482) != 0
            while (ext) {
              val cb = i + 512 + extBlocks * 512
              if (cb + 512 > b.length) return null
              if (!readEntries(cb, 21)) return null
              ext = b(cb + 504) != 0
              extBlocks += 1
            }
            val realSize = octal(i + 483, 12)
            val dataOff = off + 512 + extBlocks.toLong * 512
            if (dataOff + size > b.length) return null
            // the packed region must be exactly the fragments, every
            // fragment inside the logical file, offsets nondecreasing,
            // and the expansion bomb-capped
            if (realSize < 0 || realSize > (1L << 30)) return null
            if (frags.map(_._2).sum != size) return null
            var last = 0L
            for ((fo, fn) <- frags) {
              if (fo < last || fo + fn > realSize) return null
              last = fo + fn
            }
            out += TarEntry(full, size, dataOff, 'S', realSize, frags.toArray)
            off += extBlocks.toLong * 512 // data advance added below
          } else out += TarEntry(full, size, off + 512, tf, size)
      }
      off += 512 + ((size + 511) / 512) * 512
    }
    // Falling out of the loop means the archive ended WITHOUT the
    // end-of-archive zero block — a cut-off shard. Returning the
    // partial entry list would silently drop training samples, so
    // treat it as corrupt instead.
    null
  } catch { case _: IndexOutOfBoundsException => null }

  /** Valid tar from (name, bytes) files in one of the three layouts
    * real shards ship in — the exact write-side counterpart of
    * [[tarEntries]]:
    *
    *  - `"ustar"` (default): plain POSIX ustar — octal fields,
    *    computed checksum, paths over 100 bytes split across the
    *    155-byte prefix field at a `/` boundary;
    *  - `"pax"`: POSIX.1-2001 pax Interchange Format, the layout
    *    Python's `tarfile` writes by default since 3.8 — one global
    *    (`g`) header with a `comment` record, then per file an
    *    extended (`x`) header whose `path` record carries the real
    *    name while the following ustar header holds the name
    *    truncated to 100 bytes;
    *  - `"gnu"`: GNU longname layout — per file an `L` member named
    *    `././@LongLink` carrying the NUL-terminated real name, then
    *    the truncated ustar header.
    *
    * All three end with 512-padded data and two terminating zero
    * blocks.
    */
  /** The ONE ustar header writer every POSIX-style synth shares
    * (name + prefix fields, octal sizes, the space-summed checksum
    * in "%06o\0 " layout, "ustar\0" + version "00"). The old-GNU
    * sparse synth keeps its own variant — that format's magic and
    * offset-345 fields genuinely differ.
    */
  private def ustarHeaderBlock(base: String, prefix: String,
      typeflag: Char, size: Long): Array[Byte] = {
    val nb = base.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val pb = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(nb.length <= 100 && pb.length <= 155, "field overflow")
    val h = new Array[Byte](512)
    System.arraycopy(nb, 0, h, 0, nb.length)
    System.arraycopy(pb, 0, h, 345, pb.length)
    def putOctal(off: Int, width: Int, v: Long): Unit = {
      val s = s"%0${width - 1}o".format(v).getBytes("US-ASCII")
      System.arraycopy(s, s.length - (width - 1), h, off, width - 1)
      h(off + width - 1) = 0
    }
    putOctal(100, 8, 420 /* 0644 */)
    putOctal(108, 8, 0); putOctal(116, 8, 0)
    putOctal(124, 12, size)
    putOctal(136, 12, 0)
    h(156) = typeflag.toByte
    System.arraycopy("ustar".getBytes("US-ASCII"), 0, h, 257, 5)
    h(263) = '0'.toByte; h(264) = '0'.toByte // version "00"
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    for (k <- 0 until 512) sum += u8(h, k)
    val cs = "%06o".format(sum).getBytes("US-ASCII")
    System.arraycopy(cs, 0, h, 148, 6)
    h(154) = 0; h(155) = ' '.toByte
    h
  }

  def synthTar(files: Seq[(String, Array[Byte])],
      style: String = "ustar"): Array[Byte] = {
    require(style == "ustar" || style == "pax" || style == "gnu",
      s"style must be ustar|pax|gnu: $style")
    val bytesOf = (s: String) =>
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream()

    /** One 512-byte header + padded data block. `name` must fit the
      * 100-byte field (callers pre-truncate or pre-split).
      */
    def writeMember(base: String, prefix: String, typeflag: Char,
        data: Array[Byte]): Unit = {
      out.write(ustarHeaderBlock(base, prefix, typeflag, data.length.toLong))
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      out.write(new Array[Byte](pad))
    }

    /** `len key=value\n` with len counting itself (pax record). */
    def paxRecord(key: String, value: String): Array[Byte] = {
      val body = bytesOf(s" $key=$value\n")
      var len = body.length + 1 // at least one length digit
      while (s"$len".length + body.length != len) len += 1
      bytesOf(s"$len") ++ body
    }

    /** UTF-8-safe truncation of `s` to at most 100 bytes. */
    def trunc100(s: String): String = {
      var t = s
      while (bytesOf(t).length > 100) t = t.substring(0, t.length - 1)
      t
    }

    if (style == "pax")
      writeMember("pax_global_header", "", 'g',
        paxRecord("comment", "graft synthetic shard"))
    for ((name, data) <- files) {
      style match {
        case "pax" =>
          writeMember(trunc100("PaxHeaders.0/" + name), "", 'x',
            paxRecord("path", name))
          writeMember(trunc100(name), "", '0', data)
        case "gnu" =>
          writeMember("././@LongLink", "", 'L', bytesOf(name) :+ 0.toByte)
          writeMember(trunc100(name), "", '0', data)
        case _ =>
          val (prefix, base) =
            if (bytesOf(name).length <= 100) ("", name)
            else {
              val cut = name.indices.filter(name(_) == '/').find { c =>
                bytesOf(name.substring(0, c)).length <= 155 &&
                  bytesOf(name.substring(c + 1)).length <= 100
              }.getOrElse(throw new IllegalArgumentException(
                s"path cannot split into a 155/100-byte prefix/name pair: $name"))
              (name.substring(0, cut), name.substring(cut + 1))
            }
          writeMember(base, prefix, '0', data)
      }
    }
    out.write(new Array[Byte](1024)) // two zero blocks
    out.toByteArray
  }

  /** One old-GNU SPARSE tar member's blocks (header + continuation
    * sparse-map blocks + packed fragment data, 512-padded; no
    * end-of-archive terminator — compose into archives by
    * concatenation before the final zero blocks): `frags` are
    * (logicalOffset, bytes) runs of the logical `realSize`-byte file,
    * holes between them reading as zeros. More than 4 fragments
    * spill into isextended continuation blocks (21 entries each),
    * the shape GNU tar actually writes.
    */
  def synthTarSparseMember(name: String, frags: Seq[(Long, Array[Byte])],
      realSize: Long): Array[Byte] = {
    val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(nb.length <= 100, "sparse member name over 100 bytes")
    var last = 0L
    for ((fo, f) <- frags) {
      require(fo >= last && fo + f.length <= realSize, "bad fragment map")
      last = fo + f.length
    }
    val dataLen = frags.map(_._2.length).sum
    val out = new java.io.ByteArrayOutputStream()
    val h = new Array[Byte](512)
    System.arraycopy(nb, 0, h, 0, nb.length)
    def putOctal(b: Array[Byte], off: Int, width: Int, v: Long): Unit = {
      val s = s"%0${width - 1}o".format(v).getBytes("US-ASCII")
      System.arraycopy(s, s.length - (width - 1), b, off, width - 1)
      b(off + width - 1) = 0
    }
    putOctal(h, 100, 8, 420)
    putOctal(h, 108, 8, 0); putOctal(h, 116, 8, 0)
    putOctal(h, 124, 12, dataLen)
    putOctal(h, 136, 12, 0)
    h(156) = 'S'.toByte
    // old-GNU magic: "ustar  \0" (the prefix field is NOT used;
    // offset 345 holds GNU fields in this format)
    System.arraycopy("ustar ".getBytes("US-ASCII"), 0, h, 257, 6)
    h(263) = ' '.toByte; h(264) = 0
    for ((k, (fo, f)) <- (0 until math.min(4, frags.length)).zip(frags)) {
      putOctal(h, 386 + k * 24, 12, fo)
      putOctal(h, 398 + k * 24, 12, f.length.toLong)
    }
    if (frags.length > 4) h(482) = 1
    putOctal(h, 483, 12, realSize)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    for (k <- 0 until 512) sum += u8(h, k)
    val cs = "%06o".format(sum).getBytes("US-ASCII")
    System.arraycopy(cs, 0, h, 148, 6)
    h(154) = 0; h(155) = ' '.toByte
    out.write(h)
    // continuation blocks for fragments 4+
    var rest = frags.drop(4)
    while (rest.nonEmpty) {
      val blk = new Array[Byte](512)
      for ((k, (fo, f)) <- (0 until math.min(21, rest.length)).zip(rest)) {
        putOctal(blk, k * 24, 12, fo)
        putOctal(blk, k * 24 + 12, 12, f.length.toLong)
      }
      rest = rest.drop(21)
      if (rest.nonEmpty) blk(504) = 1
      out.write(blk)
    }
    for ((_, f) <- frags) out.write(f, 0, f.length)
    val pad = (512 - dataLen % 512) % 512
    out.write(new Array[Byte](pad))
    out.toByteArray
  }

  /** One arbitrary-typeflag tar member's blocks (ustar header +
    * 512-padded data; no end-of-archive terminator — compose archives
    * by concatenation plus two final zero blocks). The write side for
    * the GNU incremental/multi-volume shapes: dumpdir 'D', volume
    * label 'V', multivolume continuation 'M', alongside regular '0'
    * files.
    */
  def synthTarSpecialMember(name: String, typeflag: Char,
      data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(ustarHeaderBlock(name, "", typeflag, data.length.toLong))
    out.write(data, 0, data.length)
    out.write(new Array[Byte]((512 - data.length % 512) % 512))
    out.toByteArray
  }

  // ---- GNU multi-volume (`tar -M`) ------------------------------------
  // The one tar profile a SINGLE shard genuinely can't reassemble —
  // closed here by an operator over the whole volume SET. On-disk
  // shape (verified against GNU tar 1.34 during development): the
  // split member's first header declares the FULL size and its data
  // simply cuts at the volume end (non-final volumes are exactly the
  // tape length, a block multiple); each continuation volume leads
  // (after an optional 'V' label) with a typeflag-'M' header whose
  // size is the REMAINING byte count, whose GNU offset field (369,
  // octal) is the byte count already stored, and whose magic is
  // ZEROED (GNU writes no ustar magic on continuation headers — the
  // checksum is still valid); only the final volume carries the
  // end-of-archive zero blocks.

  /** Reassemble one multi-volume set, volumes in order. Returns the
    * regular-file members or null on any inconsistency: a missing or
    * out-of-order continuation (name/offset/remaining mismatch), a
    * bad checksum, a split that never completes. Labels skip;
    * directories and other node types are structural.
    */
  def tarMultivolume(volumes: Seq[Array[Byte]]): Array[(String, Array[Byte])] = try {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    // no member can exceed the bytes the whole SET holds — the bound
    // that keeps every Int narrowing below safe and caps preallocation
    // against forged size fields (checksum-valid headers included)
    val totalSetBytes = volumes.iterator.map(_.length.toLong).sum
    var pendName: String = null
    var pendSize = 0L
    var pend: java.io.ByteArrayOutputStream = null
    for (v <- volumes) {
      if (v.length % 512 != 0) return null
      var off = 0
      var ended = false
      while (!ended && off + 512 <= v.length) {
        var allZero = true
        var k = 0
        while (allZero && k < 512) { if (v(off + k) != 0) allZero = false; k += 1 }
        if (allZero) {
          var j = off + 512 // end-of-volume padding must stay zero
          while (j < v.length) { if (v(j) != 0) return null; j += 1 }
          ended = true
        } else {
          if (!tarChecksumOk(v, off)) return null
          val tf = v(off + 156).toChar
          val size = tarOctal(v, off + 124, 12)
          if (size < 0 || size > totalSetBytes) return null
          var ne = off
          while (ne < off + 100 && v(ne) != 0) ne += 1
          val name = ascii(v, off, ne - off)
          val hdrOff = off
          off += 512
          tf match {
            case 'V' => // volume label: metadata, skip its (rare) data
              off += ((size + 511) / 512 * 512).toInt
            case 'M' =>
              if (pend == null) return null
              val already = tarOctal(v, hdrOff + 369, 12)
              if (name != pendName || already != pend.size() ||
                  size != pendSize - pend.size()) return null
              val need = (size + 511) / 512 * 512 // Long: no wrap
              if (off + need <= v.length) { // completes in this volume
                pend.write(v, off, size.toInt)
                out += ((pendName, pend.toByteArray))
                pend = null
                off += need.toInt
              } else { // spans yet another volume
                val blocks = (v.length - off) / 512
                pend.write(v, off, blocks * 512)
                off = v.length
              }
            case _ =>
              if (pend != null) return null // lost continuation
              val need = (size + 511) / 512 * 512 // Long: no wrap
              if (off + need <= v.length) {
                if (tf == '0' || tf == '\u0000')
                  out += ((name, java.util.Arrays.copyOfRange(v, off,
                    off + size.toInt)))
                off += need.toInt
              } else { // the split START: regular files only
                if (tf != '0' && tf != '\u0000') return null
                pendName = name
                pendSize = size
                pend = new java.io.ByteArrayOutputStream(
                  math.min(size, 1L << 20).toInt)
                val blocks = (v.length - off) / 512
                pend.write(v, off, blocks * 512)
                off = v.length
              }
          }
        }
      }
    }
    if (pend != null) return null // the set ended mid-member
    out.toArray
  } catch { case _: ArrayIndexOutOfBoundsException => null }

  /** A GNU multivolume continuation ('M') header: remaining size in
    * the size field, bytes-already-stored in the GNU offset field
    * (369), magic ZEROED exactly as GNU tar writes it.
    */
  private def gnuContinuationHeader(name: String, remaining: Long,
      offset: Long): Array[Byte] = {
    val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(nb.length <= 100, "name overflow")
    val h = new Array[Byte](512)
    System.arraycopy(nb, 0, h, 0, nb.length)
    def putOctal(o: Int, width: Int, v: Long): Unit = {
      val s = s"%0${width - 1}o".format(v).getBytes("US-ASCII")
      System.arraycopy(s, s.length - (width - 1), h, o, width - 1)
      h(o + width - 1) = 0
    }
    putOctal(100, 8, 420)
    putOctal(108, 8, 0); putOctal(116, 8, 0)
    putOctal(124, 12, remaining)
    putOctal(136, 12, 0)
    h(156) = 'M'.toByte
    putOctal(369, 12, offset)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    for (k <- 0 until 512) sum += u8(h, k)
    val cs = "%06o".format(sum).getBytes("US-ASCII")
    System.arraycopy(cs, 0, h, 148, 6)
    h(154) = 0; h(155) = ' '.toByte
    h
  }

  /** Split (name, bytes) members across GNU-style volumes of exactly
    * `volBytes` (a block multiple): data cuts at volume ends, 'M'
    * continuation headers open follow-on volumes, an optional label
    * leads every volume ("label" then "label Volume N" — the GNU
    * convention), and the final volume carries the zero terminator
    * blocks plus zero padding to the volume size.
    */
  def synthTarMultivolume(files: Seq[(String, Array[Byte])], volBytes: Int,
      label: String = null): Array[Array[Byte]] = {
    require(volBytes >= 2048 && volBytes % 512 == 0, s"volBytes=$volBytes")
    val vols = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var cur = new java.io.ByteArrayOutputStream()
    def openVolume(): Unit = {
      cur = new java.io.ByteArrayOutputStream()
      if (label != null) {
        val l = if (vols.isEmpty) label else s"$label Volume ${vols.length + 1}"
        cur.write(ustarHeaderBlock(l, "", 'V', 0L), 0, 512)
      }
    }
    def closeVolume(): Unit = { vols += cur.toByteArray; cur = null }
    openVolume()
    for ((name, data) <- files) {
      if (volBytes - cur.size() < 512) { closeVolume(); openVolume() }
      cur.write(ustarHeaderBlock(name, "", '0', data.length.toLong), 0, 512)
      var done = 0
      var firstChunk = true
      while (done < data.length || firstChunk) {
        if (!firstChunk) {
          closeVolume()
          openVolume()
          if (volBytes - cur.size() < 1024)
            throw new IllegalArgumentException("volume too small for label")
          cur.write(gnuContinuationHeader(name,
            (data.length - done).toLong, done.toLong), 0, 512)
        }
        firstChunk = false
        val freeBlocks = (volBytes - cur.size()) / 512
        val remaining = data.length - done
        val needBlocks = (remaining + 511) / 512
        if (needBlocks <= freeBlocks) {
          cur.write(data, done, remaining)
          val padLen = (512 - remaining % 512) % 512
          cur.write(new Array[Byte](padLen), 0, padLen)
          done = data.length
        } else {
          cur.write(data, done, freeBlocks * 512)
          done += freeBlocks * 512
        }
      }
    }
    // terminator: two zero blocks, volume padded to size; roll over
    // (zero-padding the closing volume) if they no longer fit
    if (volBytes - cur.size() < 1024) {
      val pad = volBytes - cur.size()
      cur.write(new Array[Byte](pad), 0, pad)
      closeVolume()
      openVolume()
    }
    cur.write(new Array[Byte](volBytes - cur.size()), 0,
      volBytes - cur.size())
    closeVolume()
    vols.toArray
  }

  /** One GNU incremental-dump directory listing: the dumpdir member's
    * name (the directory it describes) and its records — control byte
    * 'Y' (file present in this dump), 'N' (present in the directory
    * but not dumped), 'D' (subdirectory), plus the rename/transfer
    * records GNU tar writes when directories moved between dumps
    * ('R' source, 'T' target) and the 'X' temporary marker — each
    * followed by a NUL-terminated name. The GNU `--listed-incremental`
    * payload.
    */
  final case class TarDumpdir(dir: String, entries: Array[(Char, String)])

  /** Parse every dumpdir ('D') member of a GNU incremental-backup
    * shard — previously a named profile gap, now first-class
    * metadata: what a restore pass reads to know which files each
    * directory held at dump time. Null when the archive walk fails or
    * any listing is malformed (unknown control byte, unterminated
    * name) — degrade-don't-throw.
    */
  def tarDumpdirs(b: Array[Byte]): Array[TarDumpdir] = {
    val es = tarEntries(b)
    if (es == null) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[TarDumpdir]
    for (e <- es if e.typeflag == 'D') {
      val data = tarEntryBytes(b, e)
      val recs = scala.collection.mutable.ArrayBuffer.empty[(Char, String)]
      var p = 0
      while (p < data.length && data(p) != 0) {
        val c = data(p).toChar
        // the full GNU control set: membership Y/N/D, rename pairs
        // R(from)/T(to), and the X temporary marker
        if (c != 'Y' && c != 'N' && c != 'D' && c != 'R' && c != 'T' &&
            c != 'X') return null
        var q = p + 1
        while (q < data.length && data(q) != 0) q += 1
        if (q >= data.length) return null // unterminated name
        recs += ((c, new String(data, p + 1, q - p - 1,
          java.nio.charset.StandardCharsets.UTF_8)))
        p = q + 1
      }
      out += TarDumpdir(e.name, recs.toArray)
    }
    out.toArray
  }

  /** One WARC record: header fields plus the absolute byte range of
    * its content block. `blockDigest`/`payloadDigest` carry the raw
    * WARC-Block-Digest / WARC-Payload-Digest header values ("" when
    * absent) — the integrity layer Common Crawl ships on every
    * record.
    */
  final case class WarcRecord(warcType: String, targetUri: String,
      contentLength: Long, payloadOffset: Long,
      blockDigest: String = "", payloadDigest: String = "")

  /** RFC 4648 base32 of SHA-1, the labelled-digest form WARC uses
    * (160 bits → exactly 32 characters, no padding).
    */
  def sha1Base32(b: Array[Byte], off: Int, len: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(b, off, len)
    val d = md.digest()
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder(32)
    var acc = 0L
    var bits = 0
    d.foreach { byte =>
      acc = (acc << 8) | (byte & 0xFFL)
      bits += 8
      while (bits >= 5) {
        sb.append(alphabet(((acc >> (bits - 5)) & 31).toInt))
        bits -= 5
      }
    }
    sb.toString
  }

  /** Audit one record's digest header against recomputation over
    * `[off, off+len)`: `absent` (no header), `ok`, `mismatch`
    * (corruption or a tampered header), `unsupported_algo` (a
    * labelled algorithm other than sha1 — not checkable, not damage).
    */
  def digestClass(header: String, b: Array[Byte], off: Int, len: Int): String = {
    if (header.isEmpty) return "absent"
    val ci = header.indexOf(':')
    if (ci < 0) return "mismatch" // unlabelled digests are malformed
    val algo = header.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT)
    if (algo != "sha1") return "unsupported_algo"
    val want = header.substring(ci + 1).trim.toUpperCase(java.util.Locale.ROOT)
    if (want == sha1Base32(b, off, len)) "ok" else "mismatch"
  }

  /** Split a multi-member gzip stream into its members' PLAIN bytes —
    * the member-aware reader the tolerant `.warc.gz` walk needs (a
    * reader that concatenates members invisibly lets one interloper
    * member poison the whole stream for the WARC parser). Each
    * member's header is parsed by hand (CM=8 required;
    * FEXTRA/FNAME/FCOMMENT/FHCRC fields skipped per RFC 1952), the
    * deflate body runs through ONE `reset()` raw Inflater across all
    * members ([[Capped.inflate]]; the Deflater lesson), and the
    * CRC32/ISIZE trailer is verified per member. Null for damage in
    * ANY member or past the 2³⁰ bomb cap — degrade-don't-throw.
    * Trailing bytes that don't parse as a next member header after ≥1
    * sound member are treated as end-of-stream (`GZIPInputStream`
    * parity), not corruption.
    */
  def gzipMembers(b: Array[Byte]): Array[Array[Byte]] = gzipMembers(b, 1L << 30)

  /** [[gzipMembers]] with `cap` on the members' total plain bytes: a
    * Parquet GZIP page passes its declared size.
    */
  private[operators] def gzipMembers(b: Array[Byte],
      cap: Long): Array[Array[Byte]] =
    if (b == null || b.length < 2 || u8(b, 0) != 0x1f || u8(b, 1) != 0x8b) null
    else Capped.withInflater(raw = true)(membersWith(_, b, cap))

  private def membersWith(inf: java.util.zip.Inflater, b: Array[Byte],
      cap: Long): Array[Array[Byte]] = {
    val members = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val crc = new java.util.zip.CRC32()
    var p = 0
    var total = 0L
    while (p < b.length) {
      if (p + 10 > b.length || u8(b, p) != 0x1f || u8(b, p + 1) != 0x8b ||
          u8(b, p + 2) != 8) {
        // GZIPInputStream parity: after at least one sound member,
        // bytes that don't parse as a next member header are
        // trailing garbage/padding and mean end-of-stream, not
        // corruption (readTrailer treats a failed header parse the
        // same way). Damage INSIDE a member still nulls below.
        return if (members.nonEmpty) members.toArray else null
      }
      val flg = u8(b, p + 3)
      var q = p + 10
      if ((flg & 4) != 0) { // FEXTRA
        if (q + 2 > b.length) return null
        q += 2 + leU16(b, q)
      }
      if ((flg & 8) != 0) { // FNAME
        while (q < b.length && b(q) != 0) q += 1
        q += 1
      }
      if ((flg & 16) != 0) { // FCOMMENT
        while (q < b.length && b(q) != 0) q += 1
        q += 1
      }
      if ((flg & 2) != 0) { // FHCRC: CRC-16 of the header bytes so far
        if (q + 2 > b.length) return null
        val hc = new java.util.zip.CRC32()
        hc.update(b, p, q - p)
        if ((hc.getValue & 0xFFFFL) != leU16(b, q)) return null
        q += 2
      }
      if (q > b.length) return null
      val m = Capped.inflate(inf, b, q, b.length - q, cap - total, 4096)
      if (m == null) return null
      val body = m.bytes
      total += body.length
      val trailer = q + m.consumed
      if (trailer + 8 > b.length) return null
      crc.reset()
      crc.update(body)
      if ((crc.getValue & 0xFFFFFFFFL) != (leU32(b, trailer) & 0xFFFFFFFFL))
        return null
      if ((body.length.toLong & 0xFFFFFFFFL) !=
          (leU32(b, trailer + 4) & 0xFFFFFFFFL)) return null
      members += body
      p = trailer + 8
    }
    members.toArray
  }

  /** Whether `b` starts like a WARC record: the one payload test the
    * crawl readers and the decode classifier share.
    */
  private[operators] def isWarc(b: Array[Byte]): Boolean =
    b.length >= 5 && ascii(b, 0, 5) == "WARC/"

  /** A whole-stream codec a crawl blob may be framed in: its name (the
    * classifier's container label), its sniff, and its capped decode —
    * `Right(plain)`, or `Left` of the classifier's error class, which
    * keeps a profile gap (a zstd frame naming a dictionary) apart
    * from damage.
    */
  private[operators] final case class StreamCodec(name: String,
      sniff: Array[Byte] => Boolean,
      decode: Array[Byte] => Either[String, Array[Byte]])

  private def orCorrupt(plain: Array[Byte]): Either[String, Array[Byte]] =
    if (plain == null) Left("corrupt") else Right(plain)

  /** The whole-stream codecs, in sniff order. lz4 comes first with its
    * CONTENT probe: the skippable-frame magic range is shared between
    * lz4 and zstd, so the first real frame decides the codec.
    */
  private[operators] val streamCodecs: Seq[StreamCodec] = Seq(
    StreamCodec("lz4", Lz4.isLz4Content, b => orCorrupt(Lz4.decode(b))),
    StreamCodec("zstd", Zstd.isZstd, b => Zstd.decodeResult(b) match {
      case Zstd.Ok(plain) => Right(plain)
      case Zstd.NeedsDictionary => Left("unsupported_profile")
      case Zstd.Corrupt => Left("corrupt")
    }),
    StreamCodec("bzip2", Bzip2.isBzip2, b => orCorrupt(Bzip2.decode(b))),
    StreamCodec("xz", Xz.isXz, b => orCorrupt(Xz.decode(b))),
    StreamCodec("compress_z", LzwZ.isZ, b => orCorrupt(LzwZ.decode(b))))

  /** Expand a crawl archive whatever its framing: `.warc.gz`
    * multi-member gzip through [[crawlMembers]], a [[streamCodecs]]
    * codec (`.warc.zst` is Common Crawl's newer distribution format),
    * identity for plain bytes. Real Common Crawl members occasionally
    * interleave NON-record gzip members (differently framed warcinfo,
    * stray payloads); when at least one member IS a WARC record, such
    * interlopers are skipped instead of poisoning the whole crawl — a
    * stream with no WARC members at all expands verbatim (generic
    * gunzip). Null on corruption, or past the codecs' shared 2³⁰ bomb
    * cap. Callers parse the RETURNED bytes: record offsets index into
    * them, not into the compressed blob.
    */
  def crawlInflate(b: Array[Byte]): Array[Byte] =
    if (b == null) null
    else streamCodecs.find(_.sniff(b)) match {
      case Some(c) => c.decode(b).getOrElse(null)
      case None if b.length >= 2 && u8(b, 0) == 0x1f && u8(b, 1) == 0x8b =>
        val cm = crawlMembers(b)
        if (cm == null) null else cm.plain
      case None => b
    }

  /** Member-aware view of a multi-member `.warc.gz`: the concatenated
    * plain bytes of its WARC record members (of ALL members when none
    * is a record — generic gunzip), plus kept/total member counts so
    * classifiers can tell full recovery from member shedding without
    * re-implementing the filter rule. Null for gzip damage. This is
    * the ONE place the members→filter(WARC)→concat rule lives —
    * [[crawlInflate]] and the decode classifier both route here.
    */
  final case class CrawlMembers(plain: Array[Byte], kept: Int, total: Int)

  def crawlMembers(b: Array[Byte]): CrawlMembers = {
    val members = gzipMembers(b)
    if (members == null) return null
    val warc = members.filter(isWarc)
    val keep = if (warc.nonEmpty) warc else members
    val out = new java.io.ByteArrayOutputStream()
    keep.foreach(m => out.write(m, 0, m.length))
    CrawlMembers(out.toByteArray, warc.length, members.length)
  }

  /** Walk a WARC 1.0/1.1 file: per record, the version line, CRLF
    * header lines up to the empty line (field names case-insensitive),
    * a Content-Length-delimited content block, and the two-CRLF record
    * separator. Null for a missing version line, unparseable or absent
    * Content-Length, or truncated content — degrade-don't-throw.
    * Compressed input (`.warc.gz`, `.warc.zst`, …) routes through
    * [[crawlInflate]] FIRST — offsets in the returned records index
    * into ITS output, not the compressed bytes.
    */
  def warcRecords(b: Array[Byte]): Array[WarcRecord] = try {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    def lineEnd(from: Int): Int = {
      var j = from
      while (j + 1 < b.length && !(b(j) == '\r'.toByte && b(j + 1) == '\n'.toByte))
        j += 1
      if (j + 1 < b.length) j else -1
    }
    var off = 0
    while (off < b.length) {
      // tolerate extra CRLFs between records
      while (off + 1 < b.length && b(off) == '\r'.toByte && b(off + 1) == '\n'.toByte)
        off += 2
      if (off >= b.length) return out.toArray
      val ve = lineEnd(off)
      if (ve < 0) return null
      val version = new String(b, off, ve - off, "US-ASCII")
      if (!version.startsWith("WARC/")) return null
      var p = ve + 2
      var wtype = ""; var uri = ""; var clen = -1L
      var blockDg = ""; var payloadDg = ""
      var headerDone = false
      while (!headerDone) {
        val le = lineEnd(p)
        if (le < 0) return null
        if (le == p) { headerDone = true; p += 2 } // empty line
        else {
          val line = new String(b, p, le - p, "US-ASCII")
          val ci = line.indexOf(':')
          if (ci < 0) return null
          val key = line.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(ci + 1).trim
          key match {
            case "warc-type"       => wtype = value
            case "warc-target-uri" => uri = value
            case "warc-block-digest"   => blockDg = value
            case "warc-payload-digest" => payloadDg = value
            case "content-length"  =>
              clen = try value.toLong catch { case _: NumberFormatException => return null }
            case _ => ()
          }
          p = le + 2
        }
      }
      // overflow-safe truncation check: `p + clen > b.length` wraps
      // negative for a hostile Content-Length near Long.MaxValue and
      // would let a poisoned record escape to crash the consumer
      if (clen < 0 || clen > b.length - p) return null
      out += WarcRecord(wtype, uri, clen, p.toLong, blockDg, payloadDg)
      off = (p + clen).toInt
      // the record-terminating CRLFCRLF (lenient if at end of file)
    }
    out.toArray
  } catch { case _: IndexOutOfBoundsException => null }

  /** The HTTP response carried INSIDE a WARC response record's
    * content block: status code, media type (lowercased, parameters
    * like `; charset=` stripped), and the exact body byte range after
    * the header terminator.
    */
  final case class HttpResponse(status: Int, contentType: String,
      bodyOffset: Int, bodyLength: Int, charset: String = "",
      chunked: Boolean = false)

  /** RFC 9112 §7.1 chunked transfer decoding — the raw-stream shape
    * crawls store: hex chunk-size lines (chunk extensions after `;`
    * ignored), chunk data + CRLF, the zero chunk, then optional
    * trailer fields to a blank line. Null on malformed framing; 1 GiB
    * decoded cap (a hostile chunk stream must not OOM an executor).
    */
  def dechunk(b: Array[Byte], off: Int, len: Int): Array[Byte] = try {
    val end = off + len
    val out = new java.io.ByteArrayOutputStream(math.min(len, 1 << 20))
    var p = off
    def line(): String = {
      var j = p
      while (j < end && b(j) != '\n'.toByte) j += 1
      if (j >= end) return null
      val ce = if (j > p && b(j - 1) == '\r'.toByte) j - 1 else j
      val s = new String(b, p, ce - p, "US-ASCII")
      p = j + 1
      s
    }
    var done = false
    while (!done) {
      val sl = line()
      if (sl == null) return null
      val hex = { val si = sl.indexOf(';'); if (si >= 0) sl.substring(0, si) else sl }.trim
      if (hex.isEmpty || hex.length > 8 ||
          !hex.forall(c => Character.digit(c, 16) >= 0)) return null
      val n = java.lang.Long.parseLong(hex, 16)
      if (n == 0) {
        // optional trailer fields, then the blank line (lenient at EOF)
        var trailerDone = false
        while (!trailerDone) {
          val t = line()
          if (t == null || t.isEmpty) trailerDone = true
        }
        done = true
      } else {
        if (n > end - p || out.size + n > (1L << 30)) return null
        out.write(b, p, n.toInt)
        p += n.toInt
        // chunk data is CRLF-terminated (tolerate bare LF)
        if (p < end && b(p) == '\r'.toByte) p += 1
        if (p >= end || b(p) != '\n'.toByte) return null
        p += 1
      }
    }
    out.toByteArray
  } catch { case _: IndexOutOfBoundsException => null }

  /** The materialized body of a parsed HTTP response: identity slice
    * for plain bodies; chunked bodies de-chunk, falling back to the
    * raw slice when the framing is damaged (keep the bytes rather
    * than drop the page — the crawl-robustness posture).
    */
  def httpBodyBytes(b: Array[Byte], h: HttpResponse): Array[Byte] = {
    val raw = java.util.Arrays.copyOfRange(b, h.bodyOffset,
      h.bodyOffset + h.bodyLength)
    if (!h.chunked) raw
    else {
      val d = dechunk(b, h.bodyOffset, h.bodyLength)
      if (d != null) d else raw
    }
  }

  /** Parse the HTTP/1.x response message at `[off, off+len)` — the
    * payload shape every Common Crawl `response` record carries:
    * status line, CRLF header lines to the empty line (field names
    * case-insensitive), then the body. This is the split a crawl
    * pipeline MUST perform before treating payloads as documents —
    * skipping it leaks protocol headers into training text. Null for
    * a missing/malformed status line or an unterminated header block.
    */
  def httpResponse(b: Array[Byte], off: Int, len: Int): HttpResponse = try {
    val end = off + len
    // a line ends at '\n'; a preceding '\r' is terminator, not content
    // (RFC 7230 §3.5: recipients may accept bare LF — real crawl
    // payloads carry both conventions)
    def nl(from: Int): Int = {
      var j = from
      while (j < end && b(j) != '\n'.toByte) j += 1
      if (j < end) j else -1
    }
    def contentEnd(from: Int, lf: Int): Int =
      if (lf > from && b(lf - 1) == '\r'.toByte) lf - 1 else lf
    val lf0 = nl(off)
    if (lf0 < 0) return null
    val statusLine = new String(b, off, contentEnd(off, lf0) - off, "US-ASCII")
    if (!statusLine.startsWith("HTTP/")) return null
    // split on whitespace RUNS: double-spaced status lines exist
    val parts = statusLine.trim.split("\\s+")
    if (parts.length < 2) return null
    val code = parts(1).toIntOption.getOrElse(return null)
    var p = lf0 + 1
    var ct = ""
    var cset = ""
    var chunked = false
    var done = false
    while (!done) {
      val lf = nl(p)
      if (lf < 0) return null // header block never terminates
      val ce = contentEnd(p, lf)
      if (ce == p) { done = true; p = lf + 1 } // empty line ends headers
      else {
        val line = new String(b, p, ce - p, "US-ASCII")
        val ci = line.indexOf(':')
        if (ci > 0 &&
            line.substring(0, ci).trim.equalsIgnoreCase("content-type")) {
          val segs = line.substring(ci + 1).split(";")
          ct = segs(0).trim.toLowerCase(java.util.Locale.ROOT)
          var k = 1
          while (k < segs.length) {
            val pv = segs(k).split("=", 2)
            if (pv.length == 2 && pv(0).trim.equalsIgnoreCase("charset"))
              cset = pv(1).trim.stripPrefix("\"").stripSuffix("\"")
            k += 1
          }
        }
        if (ci > 0 &&
            line.substring(0, ci).trim.equalsIgnoreCase("transfer-encoding") &&
            line.substring(ci + 1).toLowerCase(java.util.Locale.ROOT)
              .contains("chunked"))
          chunked = true
        p = lf + 1
      }
    }
    HttpResponse(code, ct, p, end - p, cset, chunked)
  } catch { case _: IndexOutOfBoundsException => null }

  /** Decode an HTTP body to text honoring its declared encoding —
    * the step that keeps non-English crawl pages from mangling into
    * U+FFFD soup: the Content-Type `charset` parameter wins; absent
    * or unknown, an HTML5-style prescan of the first 1024 bytes looks
    * for `<meta charset=...>` (or the http-equiv form); the fallback
    * is UTF-8 (the ASCII superset, so ASCII corpora are unaffected).
    * Unknown charset NAMES also fall back to UTF-8 rather than
    * dropping the page — a wrong label on mostly-ASCII markup should
    * degrade, not erase.
    */
  def decodeBody(b: Array[Byte], off: Int, len: Int,
      declared: String): String = {
    def forName(n: String): java.nio.charset.Charset =
      try {
        if (n == null || n.isEmpty) null else java.nio.charset.Charset.forName(n)
      } catch { case _: IllegalArgumentException => null }
    var cs = forName(declared)
    if (cs == null) {
      val scanLen = math.min(len, 1024)
      // ISO-8859-1 maps every byte to a char, so the prescan can't
      // throw on arbitrary bytes; the charset tokens are ASCII
      val head = new String(b, off, scanLen,
        java.nio.charset.StandardCharsets.ISO_8859_1)
        .toLowerCase(java.util.Locale.ROOT)
      // attribute-order independent, like the HTML5 prescan: any
      // charset=… inside any <meta …> tag (covers both the direct
      // attribute and the http-equiv content="…; charset=…" form in
      // either attribute order)
      val metaTag = """<meta[^>]*>""".r
      val charsetIn = """charset\s*=\s*["']?([a-z0-9._:\-]+)""".r
      cs = metaTag.findAllIn(head)
        .flatMap(tag => charsetIn.findFirstMatchIn(tag).map(_.group(1)))
        .map(forName).collectFirst { case c if c != null => c }.orNull
    }
    new String(b, off, len,
      if (cs != null) cs else java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Valid WARC 1.0 from (type, targetUri, payload) records — CRLF
    * headers with Content-Length, double-CRLF record separators; the
    * exact write-side counterpart of [[warcRecords]]. With
    * `gzipPerRecord` each record becomes its OWN gzip member and the
    * members concatenate — Common Crawl's `.warc.gz` framing, the
    * write-side counterpart of [[crawlInflate]].
    */
  def synthWarc(records: Seq[(String, String, Array[Byte])],
      gzipPerRecord: Boolean = false,
      digestModes: Seq[String] = Nil): Array[Byte] = {
    // per-record digest headers: "" / "absent" = none, "ok" = correct
    // sha1 block+payload digests, "mismatch" = one flipped digest
    // char, "md5" = a non-sha1 label (unsupported, not damage)
    def digestHeaders(i: Int, payload: Array[Byte]): String = {
      val mode = if (i < digestModes.length) digestModes(i) else ""
      if (mode.isEmpty || mode == "absent") return ""
      val d = sha1Base32(payload, 0, payload.length)
      mode match {
        case "ok" =>
          s"WARC-Block-Digest: sha1:$d\r\nWARC-Payload-Digest: sha1:$d\r\n"
        case "mismatch" =>
          val bad = (if (d.charAt(0) == 'A') 'B' else 'A') + d.substring(1)
          s"WARC-Block-Digest: sha1:$bad\r\n"
        case "md5" =>
          s"WARC-Block-Digest: md5:00000000000000000000000000000000\r\n"
        case other => throw new IllegalArgumentException(other)
      }
    }
    synthWarcImpl(records, gzipPerRecord, digestHeaders)
  }

  private def synthWarcImpl(records: Seq[(String, String, Array[Byte])],
      gzipPerRecord: Boolean,
      digestHeaders: (Int, Array[Byte]) => String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // ONE native zlib Deflater reused (reset()) across every member:
    // a GZIPOutputStream per record would allocate — and, because
    // only finish() may be called on a shared underlying stream,
    // never release — one native Deflater (~256 KB) per record.
    // nowrap=true emits raw deflate; the gzip member header and
    // CRC32/ISIZE trailer are written by hand around it.
    val deflater =
      if (gzipPerRecord)
        new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED, true)
      else null
    val crc = new java.util.zip.CRC32()
    val defBuf = new Array[Byte](8192)
    try {
      for (((tpe, uri, payload), i) <- records.zipWithIndex) {
        val hdr = new StringBuilder()
        hdr.append("WARC/1.0\r\n")
        hdr.append(s"WARC-Type: $tpe\r\n")
        hdr.append(s"WARC-Record-ID: <urn:graft:$i>\r\n")
        if (uri.nonEmpty) hdr.append(s"WARC-Target-URI: $uri\r\n")
        hdr.append(digestHeaders(i, payload))
        hdr.append(s"Content-Length: ${payload.length}\r\n")
        hdr.append("\r\n")
        val rec = new java.io.ByteArrayOutputStream()
        rec.write(hdr.toString.getBytes("US-ASCII"))
        rec.write(payload)
        rec.write("\r\n\r\n".getBytes("US-ASCII"))
        if (gzipPerRecord) {
          val body = rec.toByteArray
          // 10-byte member header: magic, CM=8 (deflate), no flags,
          // MTIME=0, XFL=0, OS=255 (unknown) — what readers require
          out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0,
            0xff.toByte))
          deflater.reset()
          deflater.setInput(body)
          deflater.finish()
          while (!deflater.finished())
            out.write(defBuf, 0, deflater.deflate(defBuf))
          crc.reset()
          crc.update(body)
          val c = crc.getValue
          val n = body.length.toLong
          // CRC32 then ISIZE, both little-endian per RFC 1952
          out.write(Array[Byte](
            (c & 0xff).toByte, ((c >> 8) & 0xff).toByte,
            ((c >> 16) & 0xff).toByte, ((c >> 24) & 0xff).toByte,
            (n & 0xff).toByte, ((n >> 8) & 0xff).toByte,
            ((n >> 16) & 0xff).toByte, ((n >> 24) & 0xff).toByte))
        } else rec.writeTo(out)
      }
      out.toByteArray
    } finally if (deflater != null) deflater.end()
  }

  /** One complete gzip member wrapping `payload` — the splice helper
    * mixed-member `.warc.gz` fixtures use to plant an interloper
    * between record members. Same hand-written RFC 1952 framing as
    * [[synthWarc]]'s per-record path.
    */
  def synthGzipMember(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED, true)
    try {
      out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte))
      deflater.setInput(payload)
      deflater.finish()
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
      val crc = new java.util.zip.CRC32()
      crc.update(payload)
      val c = crc.getValue
      val n = payload.length.toLong
      out.write(Array[Byte](
        (c & 0xff).toByte, ((c >> 8) & 0xff).toByte,
        ((c >> 16) & 0xff).toByte, ((c >> 24) & 0xff).toByte,
        (n & 0xff).toByte, ((n >> 8) & 0xff).toByte,
        ((n >> 16) & 0xff).toByte, ((n >> 24) & 0xff).toByte))
      out.toByteArray
    } finally deflater.end()
  }

  // --- real GIF pixel decode: LZW is pure algorithm ------------------
  // GIF's "codec" is LZW over palette indices — dictionary-based,
  // deterministic, implementable in plain JVM arithmetic like PNG's
  // DEFLATE (which at least ships in the JDK; LZW here is ours).
  // Supported: 87a/89a, global or local palettes, interlaced or
  // sequential, frames at arbitrary offsets (partial-frame compose
  // onto the canvas), GCE transparency, disposal methods 0-3.
  // Animated GIFs compose their FULL frame sequence via [[gifAnimate]];
  // still-image decode is the single-frame special case.

  /** Stream-order → logical row permutation for interlaced GIFs
    * (passes: every 8th from 0, every 8th from 4, every 4th from 2,
    * every 2nd from 1).
    */
  private def interlaceRows(h: Int): Array[Int] = {
    val rows = new Array[Int](h)
    var j = 0
    for ((s, st) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
      var r = s
      while (r < h) { rows(j) = r; j += 1; r += st }
    }
    rows
  }

  /** GIF-flavor LZW decode (LSB-first bit packing, CLEAR/END codes,
    * code width growing to 12 bits, KwKwK case) of `expected` palette
    * indices. Null on any truncation or malformed code.
    */
  private def lzwDecode(d: Array[Byte], mcs: Int, expected: Int): Array[Int] = {
    val clear = 1 << mcs; val end = clear + 1
    val maxCodes = 4096
    var codeSize = mcs + 1
    val prefix = new Array[Int](maxCodes)
    val suffix = new Array[Int](maxCodes)
    var dictSize = end + 1
    val out = new Array[Int](expected)
    var outN = 0
    var bitPos = 0
    def read(): Int = {
      if (bitPos + codeSize > d.length * 8) return -1
      var v = 0
      var i = 0
      while (i < codeSize) {
        val bp = bitPos + i
        if (((d(bp >> 3) >> (bp & 7)) & 1) != 0) v |= 1 << i
        i += 1
      }
      bitPos += codeSize
      v
    }
    val stack = new Array[Int](maxCodes + 1)
    var prev = -1
    var prevFirst = 0
    while (outN < expected) {
      val code = read()
      if (code < 0) return null
      if (code == clear) {
        dictSize = end + 1; codeSize = mcs + 1; prev = -1
      } else if (code == end) {
        return null // END before the image filled = truncated
      } else {
        var sp = 0
        var cur = code
        if (code >= dictSize) {
          if (code != dictSize || prev < 0) return null
          stack(sp) = prevFirst; sp += 1 // KwKwK: seq(prev) :+ first
          cur = prev
        }
        while (cur >= clear + 2) { stack(sp) = suffix(cur); sp += 1; cur = prefix(cur) }
        if (cur >= clear) return null
        stack(sp) = cur; sp += 1
        val first = cur
        while (sp > 0) {
          sp -= 1
          if (outN >= expected) return null
          out(outN) = stack(sp); outN += 1
        }
        if (prev >= 0 && dictSize < maxCodes) {
          prefix(dictSize) = prev; suffix(dictSize) = first
          dictSize += 1
          // STANDARD (giflib) timing: widen when the dictionary fills
          // the current width, i.e. post-add dictSize == 2^codeSize.
          // (TIFF-LZW uses the "early change" variant — one code
          // sooner — which is NOT what GIF encoders emit; see
          // [[lzwDecodeTiff]] for that convention.)
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
        prevFirst = first
      }
    }
    out
  }

  /** GIF-flavor LZW encode — the exact inverse of [[lzwDecode]]: a
    * real growing dictionary (not clear-code spam), code width bumps
    * in lockstep with the decoder's, and a CLEAR + reset when the
    * dictionary fills at 4096.
    */
  private def lzwEncode(indices: Array[Int], mcs: Int): Array[Byte] = {
    val clear = 1 << mcs; val end = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    var codeSize = mcs + 1
    def put(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += codeSize
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xFF).toInt); bitBuf >>= 8; bitCnt -= 8
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var dictSize = end + 1
    put(clear)
    var prev = -1
    for (s <- indices) {
      require(s >= 0 && s < clear, s"index $s out of palette range")
      if (prev < 0) prev = s
      else dict.get((prev, s)) match {
        case Some(c) => prev = c
        case None =>
          put(prev)
          dict((prev, s)) = dictSize
          dictSize += 1
          // STANDARD (giflib) timing: the decoder is one dictionary
          // add BEHIND the encoder at each code boundary, so the
          // encoder delays its width bump one entry past the decoder's
          // (decoder bumps at post-add 2^w, encoder at 2^w + 1) —
          // both then widen between the same two emitted codes.
          if (dictSize == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          if (dictSize == 4096) {
            put(clear)
            dict.clear(); dictSize = end + 1; codeSize = mcs + 1
          }
          prev = s
      }
    }
    if (prev >= 0) put(prev)
    put(end)
    while (bitCnt > 0) {
      out.write((bitBuf & 0xFF).toInt); bitBuf >>= 8
      bitCnt = math.max(bitCnt - 8, 0)
    }
    out.toByteArray
  }

  /** Decode a GIF into logical top-down 3-bytes-per-pixel rows (R,G,B
    * from the active palettes) — the FINAL composed canvas: this
    * routes through [[gifAnimate]], so multi-frame and partial-frame
    * GIFs compose per GIF89a (disposal, transparency) rather than
    * decoding only a first full-screen frame. Null for anything
    * malformed, truncated, or with an index outside the palette —
    * degrade-don't-throw like every decoder here.
    */
  def gifPixelBytes(b: Array[Byte]): Array[Byte] =
    gifAnimate(b) match {
      case null => null
      case (_, _, _, rgb) => rgb
    }

  /** Compose an animated GIF's full frame sequence into its final
    * canvas: `(width, height, nFrames, RGB bytes)`. Every frame is
    * LZW-decoded for real — image descriptors at arbitrary offsets,
    * local or global palettes, interlacing, Graphic Control Extension
    * transparency (transparent indices leave the canvas untouched),
    * and disposal methods 0/1 (leave), 2 (restore the frame rect to
    * the background color) and 3 (restore the previous canvas)
    * applied between frames per GIF89a. The canvas starts as the
    * header's background color (black when the header names none or
    * it is out of palette range) — this decoder composes to RGB, so
    * renderer "transparent background" conventions have no alpha
    * channel to land in; the convention is documented so oracles can
    * replay it. A single full-screen frame composes to exactly that
    * frame, so this SUBSUMES still-image decode ([[gifPixelBytes]]
    * routes here). Null on corruption: truncated streams,
    * out-of-range indices, frames escaping the canvas, or a missing
    * trailer.
    */
  def gifAnimate(b: Array[Byte]): (Int, Int, Int, Array[Byte]) = try {
    if (!(b.length >= 14 &&
        (ascii(b, 0, 6) == "GIF87a" || ascii(b, 0, 6) == "GIF89a"))) return null
    val w = leU16(b, 6); val h = leU16(b, 8)
    if (w <= 0 || h <= 0 || w.toLong * h * 3 > (1L << 30)) return null
    val packed = u8(b, 10)
    val bgIdx = u8(b, 11)
    var pos = 13
    var gct: Array[Int] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (pos + 3 * n > b.length) return null
      gct = Array.tabulate(3 * n)(i => u8(b, pos + i))
      pos += 3 * n
    }
    val hasBg = gct != null && 3 * bgIdx + 2 < gct.length
    val bgR: Byte = if (hasBg) gct(3 * bgIdx).toByte else 0
    val bgG: Byte = if (hasBg) gct(3 * bgIdx + 1).toByte else 0
    val bgB: Byte = if (hasBg) gct(3 * bgIdx + 2).toByte else 0
    val canvas = new Array[Byte](w * h * 3)
    var p = 0
    while (p < w * h) {
      canvas(3 * p) = bgR; canvas(3 * p + 1) = bgG; canvas(3 * p + 2) = bgB
      p += 1
    }
    var nFrames = 0
    var decodedPx = 0L // cumulative decode-bomb guard across frames
    var transparent = -1; var disposal = 0 // pending GCE, reset per frame
    // previous frame's disposal is applied when the NEXT frame arrives
    // (after the last frame the canvas keeps what that frame drew)
    var prevDisposal = 0
    var prevX = 0; var prevY = 0; var prevW = 0; var prevH = 0
    var prevSnap: Array[Byte] = null
    while (pos < b.length) {
      u8(b, pos) match {
        case 0x21 => // extension: GCE feeds composition, others skip
          if (pos + 1 >= b.length) return null
          if (u8(b, pos + 1) == 0xF9 && pos + 7 < b.length &&
              u8(b, pos + 2) == 4) {
            val pk = u8(b, pos + 3)
            disposal = (pk >> 2) & 7
            transparent = if ((pk & 1) != 0) u8(b, pos + 6) else -1
          }
          pos += 2
          while (pos < b.length && u8(b, pos) != 0) pos += 1 + u8(b, pos)
          if (pos >= b.length) return null
          pos += 1
        case 0x2C =>
          if (pos + 10 > b.length) return null
          val ix = leU16(b, pos + 1); val iy = leU16(b, pos + 3)
          val iw = leU16(b, pos + 5); val ih = leU16(b, pos + 7)
          val ip = u8(b, pos + 9)
          pos += 10
          if (iw <= 0 || ih <= 0 || ix + iw > w || iy + ih > h) return null
          var pal = gct
          if ((ip & 0x80) != 0) {
            val n = 2 << (ip & 7)
            if (pos + 3 * n > b.length) return null
            pal = Array.tabulate(3 * n)(i => u8(b, pos + i))
            pos += 3 * n
          }
          if (pal == null) return null
          if (pos >= b.length) return null
          val mcs = u8(b, pos); pos += 1
          if (mcs < 2 || mcs > 11) return null
          val data = new java.io.ByteArrayOutputStream()
          while (pos < b.length && u8(b, pos) != 0) {
            val n = u8(b, pos)
            if (pos + 1 + n > b.length) return null
            data.write(b, pos + 1, n); pos += 1 + n
          }
          if (pos >= b.length) return null // missing sub-block terminator
          pos += 1
          // decompression-bomb guard: constant frames compress ~160:1
          // through LZW, so a small hostile stream can demand billions
          // of composited pixels — cap TOTAL decoded pixels like
          // the codecs cap inflated bytes (2^28 ≈ 4k full-HD frames)
          decodedPx += iw.toLong * ih
          if (decodedPx > (1L << 28)) return null
          val idx = lzwDecode(data.toByteArray, mcs, iw * ih)
          if (idx == null) return null
          // settle the PREVIOUS frame's disposal before drawing
          prevDisposal match {
            case 2 => // restore the previous rect to background
              var r = 0
              while (r < prevH) {
                var c = 0
                while (c < prevW) {
                  val d = ((prevY + r) * w + prevX + c) * 3
                  canvas(d) = bgR; canvas(d + 1) = bgG; canvas(d + 2) = bgB
                  c += 1
                }
                r += 1
              }
            case 3 => // restore the canvas as it was before that frame
              if (prevSnap != null) {
                var r = 0
                while (r < prevH) {
                  System.arraycopy(prevSnap, r * prevW * 3, canvas,
                    ((prevY + r) * w + prevX) * 3, prevW * 3)
                  r += 1
                }
              }
            case _ => ()
          }
          val snap =
            if (disposal == 3) {
              val s = new Array[Byte](iw * ih * 3)
              var r = 0
              while (r < ih) {
                System.arraycopy(canvas, ((iy + r) * w + ix) * 3, s,
                  r * iw * 3, iw * 3)
                r += 1
              }
              s
            } else null
          val np = pal.length / 3
          val rowOf = if ((ip & 0x40) != 0) interlaceRows(ih) else null
          var i = 0
          while (i < iw * ih) {
            val v = idx(i)
            if (v >= np) return null
            if (v != transparent) {
              val row = if (rowOf == null) i / iw else rowOf(i / iw)
              val d = ((iy + row) * w + ix + i % iw) * 3
              canvas(d) = pal(3 * v).toByte
              canvas(d + 1) = pal(3 * v + 1).toByte
              canvas(d + 2) = pal(3 * v + 2).toByte
            }
            i += 1
          }
          prevDisposal = disposal
          prevX = ix; prevY = iy; prevW = iw; prevH = ih; prevSnap = snap
          transparent = -1; disposal = 0
          nFrames += 1
        case 0x3B =>
          return if (nFrames >= 1) (w, h, nFrames, canvas) else null
        case _ => return null
      }
    }
    null // ran out of bytes without a trailer
  } catch { case _: IndexOutOfBoundsException => null }

  /** The palette-preserving form of [[gifPixelBytes]]:
    * (width, height, palette RGB bytes, logical top-down indices) —
    * what a palette-aware transform (e.g. [[resizeGif]]) needs. Null
    * on the same degrade conditions.
    */
  def gifDecodeIndexed(b: Array[Byte]): (Int, Int, Array[Int], Array[Int]) = try {
    if (!(b.length >= 14 &&
        (ascii(b, 0, 6) == "GIF87a" || ascii(b, 0, 6) == "GIF89a"))) return null
    val w = leU16(b, 6); val h = leU16(b, 8)
    if (w <= 0 || h <= 0 || w.toLong * h * 3 > (1L << 30)) return null
    val packed = u8(b, 10)
    var pos = 13
    var gct: Array[Int] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (pos + 3 * n > b.length) return null
      gct = Array.tabulate(3 * n)(i => u8(b, pos + i))
      pos += 3 * n
    }
    while (pos < b.length) {
      u8(b, pos) match {
        case 0x21 => // extension: label byte + data sub-blocks
          pos += 2
          while (pos < b.length && u8(b, pos) != 0) pos += 1 + u8(b, pos)
          if (pos >= b.length) return null
          pos += 1
        case 0x2C =>
          if (pos + 10 > b.length) return null
          val ix = leU16(b, pos + 1); val iy = leU16(b, pos + 3)
          val iw = leU16(b, pos + 5); val ih = leU16(b, pos + 7)
          val ip = u8(b, pos + 9)
          pos += 10
          var pal = gct
          if ((ip & 0x80) != 0) {
            val n = 2 << (ip & 7)
            if (pos + 3 * n > b.length) return null
            pal = Array.tabulate(3 * n)(i => u8(b, pos + i))
            pos += 3 * n
          }
          if (pal == null) return null
          if (ix != 0 || iy != 0 || iw != w || ih != h) return null // partial frame
          if (pos >= b.length) return null
          val mcs = u8(b, pos); pos += 1
          if (mcs < 2 || mcs > 11) return null
          val data = new java.io.ByteArrayOutputStream()
          while (pos < b.length && u8(b, pos) != 0) {
            val n = u8(b, pos)
            if (pos + 1 + n > b.length) return null
            data.write(b, pos + 1, n); pos += 1 + n
          }
          if (pos >= b.length) return null // missing sub-block terminator
          val idx = lzwDecode(data.toByteArray, mcs, w * h)
          if (idx == null) return null
          val np = pal.length / 3
          val rowOf = if ((ip & 0x40) != 0) interlaceRows(h) else null
          val logical = new Array[Int](w * h)
          var i = 0
          while (i < w * h) {
            val v = idx(i)
            if (v >= np) return null
            val row = if (rowOf == null) i / w else rowOf(i / w)
            logical(row * w + i % w) = v
            i += 1
          }
          return (w, h, pal, logical)
        case 0x3B => return null // trailer before any image
        case _ => return null
      }
    }
    null
  } catch { case _: IndexOutOfBoundsException => null }

  /** Nearest-neighbor downscale of a GIF by an integer factor on the
    * INDEX grid (palette preserved exactly — no color resampling),
    * re-encoded through the real LZW path. Null for undecodable
    * inputs.
    */
  def resizeGif(b: Array[Byte], factor: Int): Array[Byte] = {
    require(factor >= 1, s"factor must be >= 1: $factor")
    gifDecodeIndexed(b) match {
      case null => null
      case (w0, h0, pal, idx) =>
        val w1 = math.max(w0 / factor, 1)
        val h1 = math.max(h0 / factor, 1)
        val out = new Array[Int](w1 * h1)
        var y = 0
        while (y < h1) {
          var x = 0
          while (x < w1) {
            out(y * w1 + x) = idx((y * factor) * w0 + (x * factor))
            x += 1
          }
          y += 1
        }
        synthGif(w1, h1, pal, out)
    }
  }

  /** Valid GIF89a from a palette (3·2^k RGB bytes) and logical
    * top-down palette indices: real LZW compression
    * ([[lzwEncode]] — growing dictionary, CLEAR at 4096), data split
    * into ≤255-byte sub-blocks, optional interlaced row order, and a
    * Graphic Control Extension so decoders exercise the extension-skip
    * path. Exact inverse of [[gifPixelBytes]] modulo palette lookup.
    */
  def synthGif(width: Int, height: Int, paletteRgb: Array[Int],
      indices: Array[Int], interlaced: Boolean = false): Array[Byte] = {
    val np = paletteRgb.length / 3
    require(np >= 2 && np <= 256 && Integer.bitCount(np) == 1,
      s"palette size must be a power of two in 2..256: $np")
    require(paletteRgb.length == 3 * np, "palette must be 3*n RGB bytes")
    require(indices.length == width * height,
      s"need $width*$height indices, got ${indices.length}")
    val k = 31 - Integer.numberOfLeadingZeros(np) // log2(np)
    val mcs = math.max(2, k)
    val stream =
      if (!interlaced) indices
      else {
        val rows = interlaceRows(height)
        val s = new Array[Int](indices.length)
        for (j <- 0 until height)
          System.arraycopy(indices, rows(j) * width, s, j * width, width)
        s
      }
    val z = lzwEncode(stream, mcs)
    val out = new java.io.ByteArrayOutputStream()
    def put(v: Int*): Unit = v.foreach(x => out.write(x & 0xFF))
    put('G', 'I', 'F', '8', '9', 'a')
    put(width & 0xFF, width >> 8, height & 0xFF, height >> 8)
    put(0x80 | (k - 1), 0, 0) // GCT present, size 2^k; bg 0; no aspect
    paletteRgb.foreach(v => out.write(v & 0xFF))
    put(0x21, 0xF9, 4, 0, 0, 0, 0, 0) // GCE (no transparency), terminator
    put(0x2C, 0, 0, 0, 0,
      width & 0xFF, width >> 8, height & 0xFF, height >> 8,
      if (interlaced) 0x40 else 0x00)
    put(mcs)
    var off = 0
    while (off < z.length) {
      val n = math.min(255, z.length - off)
      put(n)
      out.write(z, off, n)
      off += n
    }
    put(0x00, 0x3B) // sub-block terminator, trailer
    out.toByteArray
  }

  /** One frame for [[synthGifAnim]]: `indices` is the iw×ih local
    * grid (row-major, pre-interlace); `localPaletteRgb` null = use
    * the global table; `transparentIdx` −1 = opaque; `disposal` per
    * GIF89a (0/1 leave, 2 restore-background, 3 restore-previous).
    */
  final case class GifFrame(ix: Int, iy: Int, iw: Int, ih: Int,
      indices: Array[Int], localPaletteRgb: Array[Int] = null,
      transparentIdx: Int = -1, disposal: Int = 0,
      interlaced: Boolean = false)

  /** Valid multi-frame GIF89a — the exact write-side counterpart of
    * [[gifAnimate]]: global color table + background index, then per
    * frame an optional Graphic Control Extension (emitted whenever
    * the frame carries transparency or a non-zero disposal), an image
    * descriptor at the frame's offset with optional local color table
    * and interlace flag, and the real LZW stream in 255-byte
    * sub-blocks.
    */
  def synthGifAnim(width: Int, height: Int, globalPaletteRgb: Array[Int],
      bgIndex: Int, frames: Seq[GifFrame]): Array[Byte] = {
    val np = globalPaletteRgb.length / 3
    require(np >= 2 && np <= 256 && Integer.bitCount(np) == 1,
      s"global palette size must be a power of two in 2..256: $np")
    require(bgIndex >= 0 && bgIndex < np, s"bg index out of palette: $bgIndex")
    require(frames.nonEmpty, "at least one frame")
    val k = 31 - Integer.numberOfLeadingZeros(np)
    val out = new java.io.ByteArrayOutputStream()
    def put(v: Int*): Unit = v.foreach(x => out.write(x & 0xFF))
    put('G', 'I', 'F', '8', '9', 'a')
    put(width & 0xFF, width >> 8, height & 0xFF, height >> 8)
    put(0x80 | (k - 1), bgIndex, 0)
    globalPaletteRgb.foreach(v => out.write(v & 0xFF))
    for (f <- frames) {
      val pal = if (f.localPaletteRgb != null) f.localPaletteRgb
                else globalPaletteRgb
      val fnp = pal.length / 3
      require(fnp >= 2 && fnp <= 256 && Integer.bitCount(fnp) == 1,
        s"frame palette size must be a power of two in 2..256: $fnp")
      require(f.ix >= 0 && f.iy >= 0 && f.iw > 0 && f.ih > 0 &&
        f.ix + f.iw <= width && f.iy + f.ih <= height,
        s"frame rect escapes the canvas: ${(f.ix, f.iy, f.iw, f.ih)}")
      require(f.indices.length == f.iw * f.ih,
        s"need ${f.iw}*${f.ih} indices, got ${f.indices.length}")
      require(f.indices.forall(v => v >= 0 && v < fnp), "index out of palette")
      require(f.disposal >= 0 && f.disposal <= 3, s"disposal: ${f.disposal}")
      require(f.transparentIdx < fnp, "transparent index out of palette")
      if (f.transparentIdx >= 0 || f.disposal != 0)
        put(0x21, 0xF9, 4,
          (f.disposal << 2) | (if (f.transparentIdx >= 0) 1 else 0),
          0, 0, math.max(f.transparentIdx, 0), 0)
      val fk = 31 - Integer.numberOfLeadingZeros(fnp)
      put(0x2C, f.ix & 0xFF, f.ix >> 8, f.iy & 0xFF, f.iy >> 8,
        f.iw & 0xFF, f.iw >> 8, f.ih & 0xFF, f.ih >> 8,
        (if (f.localPaletteRgb != null) 0x80 | (fk - 1) else 0) |
          (if (f.interlaced) 0x40 else 0))
      if (f.localPaletteRgb != null) pal.foreach(v => out.write(v & 0xFF))
      val mcs = math.max(2, fk)
      val stream =
        if (!f.interlaced) f.indices
        else {
          val rows = interlaceRows(f.ih)
          val s = new Array[Int](f.indices.length)
          for (j <- 0 until f.ih)
            System.arraycopy(f.indices, rows(j) * f.iw, s, j * f.iw, f.iw)
          s
        }
      put(mcs)
      val z = lzwEncode(stream, mcs)
      var off = 0
      while (off < z.length) {
        val n = math.min(255, z.length - off)
        put(n)
        out.write(z, off, n)
        off += n
      }
      put(0x00)
    }
    put(0x3B)
    out.toByteArray
  }

  // --- real baseline-JPEG pixel decode: Huffman + IDCT in pure JVM ----
  // Baseline sequential JPEG (SOF0) needs no codec library either: the
  // entropy layer is canonical Huffman (ITU T.81 §F.2), the transform
  // is an 8×8 IDCT, both implementable in plain JVM arithmetic.
  // Supported profile: 8-bit baseline (SOF0) AND progressive (SOF2,
  // via [[jpegProgressive]]), 12-bit baseline (DICOM/scan exports;
  // output folds to the high byte), 1 component (grayscale), 3
  // components (YCbCr), or — 8-bit baseline only — 4 components
  // (Adobe inverted CMYK / YCCK per the APP14 transform), with
  // sampling factors 1–2 per axis — 4:4:4, 4:2:2, 4:4:0, and the
  // 4:2:0 virtually all real color JPEGs use — with optional restart
  // intervals. Arithmetic coding and hierarchical/lossless frames
  // degrade to null.

  /** Zig-zag index → natural (row-major) index, ITU T.81 Figure A.6. */
  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** cos((2x+1)·u·π/16) for the 8-point IDCT. */
  private lazy val CosT: Array[Array[Double]] =
    Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16))
  private lazy val Cu: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)

  /** Decode a baseline JPEG into logical top-down 3-bytes-per-pixel
    * rows (grayscale replicated ×3; YCbCr converted with the BT.601
    * full-range equations). The full entropy path is real — canonical
    * Huffman tables built from DHT, DC prediction, AC run-length with
    * ZRL/EOB, 0xFF00 byte unstuffing, restart-marker resync — followed
    * by dequantization, zig-zag reorder, and a double-precision 8×8
    * IDCT (exact for the DC-only blocks the oracle corpus uses; ≤1 LSB
    * from the reference transform elsewhere, the usual decoder
    * tolerance). Null for anything outside the profile or corrupt —
    * same degrade-don't-throw posture as [[bmpPixelBytes]] /
    * [[pngPixelBytes]]. Production note: the naive 64-mult-per-pixel
    * IDCT favors obviousness over speed; an AAN fixed-point IDCT slots
    * in without touching the entropy layer.
    */
  def jpegPixelBytes(b: Array[Byte]): Array[Byte] = try {
    if (!(b.length >= 4 && u8(b, 0) == 0xFF && u8(b, 1) == 0xD8)) return null

    // ---- marker walk: collect DQT/DHT/SOF0/DRI, stop at SOS ----------
    val quant = new Array[Array[Int]](4)                 // zigzag order
    // Huffman tables by (class<<1 | id): canonical decode arrays
    val hCount = new Array[Array[Int]](8)                // counts per length 1..16
    val hMin = new Array[Array[Int]](8); val hMax = new Array[Array[Int]](8)
    val hValPtr = new Array[Array[Int]](8); val hVals = new Array[Array[Int]](8)
    var w = 0; var h = 0
    var nComp = 0
    val compQ = new Array[Int](4)                        // quant table per comp
    val compH = new Array[Int](4); val compV = new Array[Int](4)
    val compDc = new Array[Int](4); val compAc = new Array[Int](4)
    var restartInterval = 0
    var prec = 8 // SOF sample precision: 8, or 12 (DICOM/scan exports)
    // APP14 Adobe color transform: -1 absent, 0 CMYK (stored inverted,
    // Adobe convention), 2 YCCK (YCC-coded inverted CMY + K)
    var adobeTransform = -1
    var off = 2
    var sosAt = -1
    while (sosAt < 0) {
      if (off + 4 > b.length) return null
      if (u8(b, off) != 0xFF) return null
      val marker = u8(b, off + 1)
      if (marker == 0xFF) { off += 1 }
      else if ((marker >= 0xD0 && marker <= 0xD7) || marker == 0x01) off += 2
      else {
        val len = beU16(b, off + 2)
        if (len < 2 || off + 2 + len > b.length) return null
        val ds = off + 4; val de = off + 2 + len
        marker match {
          case 0xDB => // DQT: one or more tables
            var p = ds
            while (p < de) {
              val pq = u8(b, p) >> 4; val tq = u8(b, p) & 15
              if (tq > 3) return null
              val n = if (pq == 0) 64 else 128
              if (p + 1 + n > de) return null
              quant(tq) = Array.tabulate(64)(i =>
                if (pq == 0) u8(b, p + 1 + i) else beU16(b, p + 1 + 2 * i))
              p += 1 + n
            }
          case 0xC4 => // DHT: one or more tables
            var p = ds
            while (p < de) {
              val tc = u8(b, p) >> 4; val th = u8(b, p) & 15
              if (tc > 1 || th > 3 || p + 17 > de) return null
              val counts = Array.tabulate(17)(i => if (i == 0) 0 else u8(b, p + i))
              val total = counts.sum
              if (p + 17 + total > de) return null
              val vals = Array.tabulate(total)(i => u8(b, p + 17 + i))
              // canonical code assignment (T.81 §C.2)
              val mn = new Array[Int](17); val mx = new Array[Int](17)
              val vp = new Array[Int](17)
              var code = 0; var k = 0
              for (l <- 1 to 16) {
                mn(l) = code; vp(l) = k
                code += counts(l); k += counts(l)
                mx(l) = code - 1                   // valid only if counts(l)>0
                code <<= 1
              }
              val key = (tc << 2) | th
              hCount(key) = counts; hMin(key) = mn; hMax(key) = mx
              hValPtr(key) = vp; hVals(key) = vals
              p += 17 + total
            }
          case 0xEE => // APP14: Adobe transform flag for 4-comp color
            if (len >= 14 && ascii(b, ds, 5) == "Adobe")
              adobeTransform = u8(b, ds + 11)
          case 0xC0 => // SOF0 baseline
            prec = u8(b, ds)
            if (prec != 8 && prec != 12) return null // sample precision
            h = beU16(b, ds + 1); w = beU16(b, ds + 3)
            nComp = u8(b, ds + 5)
            if (w <= 0 || h <= 0 ||
              (nComp != 1 && nComp != 3 && nComp != 4)) return null
            // 12-bit CMYK: the /255 K-composition convention is 8-bit;
            // no real corpus pairs the two — stays a profile gap
            if (prec == 12 && nComp == 4) return null
            if (w.toLong * h * 3 > (1L << 30)) return null // forged dims
            for (c <- 0 until nComp) {
              val hv = u8(b, ds + 6 + 3 * c + 1)
              compH(c) = hv >> 4; compV(c) = hv & 15
              // 1 or 2 in each axis covers 4:4:4 / 4:2:2 / 4:4:0 /
              // 4:2:0 — every profile real JPEG corpora use
              if (compH(c) < 1 || compH(c) > 2 ||
                compV(c) < 1 || compV(c) > 2) return null
              compQ(c) = u8(b, ds + 6 + 3 * c + 2)
            }
            if (nComp == 1) {
              // a single-component scan is non-interleaved: its MCU is
              // ONE block regardless of declared sampling factors
              compH(0) = 1; compV(0) = 1
            }
          case 0xC2 => return jpegProgressive(b)   // progressive: own path
          case 0xC1 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA |
              0xCB | 0xCD | 0xCE | 0xCF =>
            return null                            // non-baseline frame
          case 0xDD => restartInterval = beU16(b, ds)
          case 0xDA => // SOS
            if (u8(b, ds) != nComp || nComp == 0) return null
            for (c <- 0 until nComp) {
              val tt = u8(b, ds + 2 + 2 * c)
              compDc(c) = tt >> 4; compAc(c) = tt & 15
            }
            sosAt = de                             // entropy data starts here
          case 0xD9 => return null                 // EOI before SOS
          case _ => ()                             // APPn/COM: skip
        }
        off += 2 + len
      }
    }
    if (w == 0 || nComp == 0) return null
    for (c <- 0 until nComp)
      if (quant(compQ(c)) == null) return null

    // ---- entropy-coded segment: bit reader with unstuffing ----------
    object Corrupt extends scala.util.control.ControlThrowable
    var pos = sosAt
    var bitBuf = 0; var bitCnt = 0
    def nextBit(): Int = {
      if (bitCnt == 0) {
        if (pos >= b.length) throw Corrupt
        var v = u8(b, pos); pos += 1
        if (v == 0xFF) {
          val m = if (pos < b.length) u8(b, pos) else -1
          if (m == 0x00) pos += 1                  // stuffed data byte
          else throw Corrupt                       // marker mid-block
        }
        bitBuf = v; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(s: Int): Int = {
      var v = 0; var i = 0
      while (i < s) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    def extend(v: Int, s: Int): Int =
      if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    def decodeHuff(key: Int): Int = {
      if (hVals(key) == null) throw Corrupt
      var code = nextBit(); var l = 1
      while (l <= 16 && (hCount(key)(l) == 0 || code > hMax(key)(l))) {
        code = (code << 1) | nextBit(); l += 1
      }
      if (l > 16) throw Corrupt
      hVals(key)(hValPtr(key)(l) + code - hMin(key)(l))
    }

    // MCU geometry: Hmax×Vmax 8×8 blocks of the max-sampled component;
    // component c contributes compH(c)×compV(c) blocks per MCU into a
    // plane of mcuCols·8·compH(c) × mcuRows·8·compV(c) samples
    val hMaxS = (0 until nComp).map(compH).max
    val vMaxS = (0 until nComp).map(compV).max
    val mcuCols = (w + 8 * hMaxS - 1) / (8 * hMaxS)
    val mcuRows = (h + 8 * vMaxS - 1) / (8 * vMaxS)
    val planeW = Array.tabulate(nComp)(c => mcuCols * 8 * compH(c))
    val planeH = Array.tabulate(nComp)(c => mcuRows * 8 * compV(c))
    // the forged-dims guard above caps OUTPUT bytes, but the Int
    // coefficient planes amplify 4 bytes/sample × nComp over the
    // block-padded grid — cap the ACTUAL allocation too, or a
    // 200-byte blob with a huge SOF0 OOMs before entropy decode
    // would ever reject it
    var planeBytes = 0L
    for (c <- 0 until nComp) planeBytes += planeW(c).toLong * planeH(c) * 4
    if (planeBytes > (1L << 30)) return null
    val planes = Array.tabulate(nComp)(c => new Array[Int](planeW(c) * planeH(c)))
    val pred = new Array[Int](nComp)
    val coef = new Array[Int](64)
    val mid = 1 << (prec - 1)       // level shift: 128 or 2048
    val maxV = (1 << prec) - 1      // sample ceiling: 255 or 4095
    var mcu = 0
    var my = 0
    while (my < mcuRows) {
      var mx = 0
      while (mx < mcuCols) {
        // restart-marker resync: byte-align, consume RSTn, reset DC
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bitCnt = 0
          if (pos + 2 > b.length || u8(b, pos) != 0xFF) throw Corrupt
          val m = u8(b, pos + 1)
          if (m < 0xD0 || m > 0xD7) throw Corrupt
          pos += 2
          java.util.Arrays.fill(pred, 0)
        }
        var c = 0
        while (c < nComp) {
          val qtab = quant(compQ(c))
          var bv = 0
          while (bv < compV(c)) {
            var bhh = 0
            while (bhh < compH(c)) {
              java.util.Arrays.fill(coef, 0)
              // DC: category + extend, predicted from the previous block
              // (T.81 Table F.1: categories reach 11 at 8-bit, 15 at 12)
              val s = decodeHuff((0 << 2) | compDc(c))
              if (s > (if (prec == 12) 15 else 11)) throw Corrupt
              pred(c) += extend(receive(s), s)
              coef(0) = pred(c) * qtab(0)
              // AC: (run, size) pairs with EOB / ZRL
              var k = 1
              var eob = false
              while (k < 64 && !eob) {
                val rs = decodeHuff((1 << 2) | compAc(c))
                val r = rs >> 4; val sz = rs & 15
                if (sz == 0) {
                  if (r == 15) k += 16 else eob = true  // ZRL / EOB
                } else {
                  k += r
                  if (k > 63) throw Corrupt
                  coef(ZigZag(k)) = extend(receive(sz), sz) * qtab(k)
                  k += 1
                }
              }
              // 8×8 IDCT + level shift, clamped
              val plane = planes(c)
              val bx0 = (mx * compH(c) + bhh) * 8
              val by0 = (my * compV(c) + bv) * 8
              var y = 0
              while (y < 8) {
                var x = 0
                while (x < 8) {
                  var sum = 0.0
                  var v = 0
                  while (v < 8) {
                    var u = 0
                    while (u < 8) {
                      val f = coef(v * 8 + u)
                      if (f != 0) sum += Cu(u) * Cu(v) * f * CosT(x)(u) * CosT(y)(v)
                      u += 1
                    }
                    v += 1
                  }
                  val pix = math.round(sum / 4 + mid).toInt
                  plane((by0 + y) * planeW(c) + bx0 + x) =
                    if (pix < 0) 0 else if (pix > maxV) maxV else pix
                  x += 1
                }
                y += 1
              }
              bhh += 1
            }
            bv += 1
          }
          c += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }

    // ---- crop + upsample + color-convert to 3-byte pixels -----------
    // chroma upsampling is nearest-neighbor (floor): sample (x,y) of
    // component c comes from (x·h_c div Hmax, y·v_c div Vmax) — exact
    // for the block-constant oracle corpora; a production swap-in of
    // libjpeg's "fancy" triangle filter touches only this loop.
    // 4-component color: Adobe CMYK JPEGs store INK-INVERTED samples
    // (APP14 transform 0 or no marker), or YCC-coded inverted CMY + K
    // (transform 2, YCCK); transform 1 is 3-component-only → null
    if (nComp == 4 && adobeTransform == 1) return null
    val ycck = nComp == 4 && adobeTransform == 2
    // 12-bit output convention: color-convert IN the 12-bit domain
    // (chroma centered on 2048, clamp at 4095), then keep the top 8
    // bits (>> 4) — the same high-byte fold pngPixelBytes applies to
    // 16-bit PNG, so downstream stats see one byte scale
    val sh = prec - 8
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val d = (y * w + x) * 3
        if (nComp == 1) {
          val g = (planes(0)(y * planeW(0) + x) >> sh).toByte
          out(d) = g; out(d + 1) = g; out(d + 2) = g
        } else {
          def samp(c: Int): Int = planes(c)(
            (y * compV(c) / vMaxS) * planeW(c) + x * compH(c) / hMaxS)
          def cl(v: Double): Int = {
            val r = math.round(v).toInt
            if (r < 0) 0 else if (r > maxV) maxV else r
          }
          if (nComp == 3 || ycck) {
            val yy = samp(0); val cb = samp(1) - mid; val cr = samp(2) - mid
            val r = cl(yy + 1.402 * cr)
            val g = cl(yy - 0.344136 * cb - 0.714136 * cr)
            val bb = cl(yy + 1.772 * cb)
            if (nComp == 3) {
              out(d) = (r >> sh).toByte; out(d + 1) = (g >> sh).toByte
              out(d + 2) = (bb >> sh).toByte
            } else {
              // YCCK: the YCC decode yields the INVERTED C/M/Y values;
              // compose with K' exactly like the plain-CMYK branch
              val k = samp(3)
              out(d) = (r * k / 255).toByte
              out(d + 1) = (g * k / 255).toByte
              out(d + 2) = (bb * k / 255).toByte
            }
          } else {
            // inverted-CMYK composition R = C'·K'/255 on the stored
            // samples — truncating division, documented as this
            // decoder's convention (no spec'd rounding exists)
            val k = samp(3)
            out(d) = (samp(0) * k / 255).toByte
            out(d + 1) = (samp(1) * k / 255).toByte
            out(d + 2) = (samp(2) * k / 255).toByte
          }
        }
        x += 1
      }
      y += 1
    }
    out
  } catch {
    case _: scala.util.control.ControlThrowable => null
    case _: IndexOutOfBoundsException => null
  }

  /** Progressive (SOF2) JPEG decode — [[jpegPixelBytes]] dispatches
    * here on a progressive frame marker; same supported sampling
    * profile and degrade-don't-throw contract. Implements ITU T.81
    * §G.1.2: DC first/refinement scans (interleaved or single-
    * component), AC first/refinement scans (always single-component,
    * EOB-run codes, the correction-bit algorithm), successive-
    * approximation point transforms, DHT/DQT redefinition between
    * scans, and restart resync — accumulating coefficients per
    * component, then one dequantize + IDCT + upsample + BT.601
    * reconstruction identical to the baseline path's.
    */
  private def jpegProgressive(b: Array[Byte]): Array[Byte] = try {
    object Corrupt extends scala.util.control.ControlThrowable
    val quant = new Array[Array[Int]](4)
    val hCount = new Array[Array[Int]](8)
    val hMin = new Array[Array[Int]](8); val hMax = new Array[Array[Int]](8)
    val hValPtr = new Array[Array[Int]](8); val hVals = new Array[Array[Int]](8)
    var w = 0; var h = 0; var nComp = 0
    val compId = new Array[Int](3); val compQ = new Array[Int](3)
    val compH = new Array[Int](3); val compV = new Array[Int](3)
    var restartInterval = 0
    // per-component coefficient store over the MCU-PADDED block grid,
    // block-major, NATURAL coefficient order within each 64-slot block
    var coefArrs: Array[Array[Int]] = null
    var blocksW: Array[Int] = null
    var nbW: Array[Int] = null; var nbH: Array[Int] = null // actual grids
    var hMaxS = 1; var vMaxS = 1; var mcuCols = 0; var mcuRows = 0

    var pos = 2 // past SOI (caller verified the magic)

    // ---- entropy bit reader (scan-scoped state) ----------------------
    var bitBuf = 0; var bitCnt = 0
    def nextBit(): Int = {
      if (bitCnt == 0) {
        if (pos >= b.length) throw Corrupt
        var v = u8(b, pos); pos += 1
        if (v == 0xFF) {
          val m = if (pos < b.length) u8(b, pos) else -1
          if (m == 0x00) pos += 1
          else throw Corrupt // marker mid-unit
        }
        bitBuf = v; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(s: Int): Int = {
      var v = 0; var i = 0
      while (i < s) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    def extend(v: Int, s: Int): Int =
      if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    def decodeHuff(key: Int): Int = {
      if (hVals(key) == null) throw Corrupt
      var code = nextBit(); var l = 1
      while (l <= 16 && (hCount(key)(l) == 0 || code > hMax(key)(l))) {
        code = (code << 1) | nextBit(); l += 1
      }
      if (l > 16) throw Corrupt
      hVals(key)(hValPtr(key)(l) + code - hMin(key)(l))
    }

    // scan-local Huffman table selections, set by each SOS
    val compDcT = new Array[Int](3); val compAcT = new Array[Int](3)

    // ---- one scan ----------------------------------------------------
    def decodeScan(scanComps: Array[Int], ss: Int, se: Int,
        ah: Int, al: Int): Unit = {
      val ns = scanComps.length
      if (ss == 0 && se != 0) throw Corrupt  // DC scan must be DC-only
      if (ss > 0 && ns != 1) throw Corrupt   // AC scans are single-comp
      if (ss > 63 || se > 63 || se < ss || al > 13) throw Corrupt
      bitBuf = 0; bitCnt = 0
      val pred = new Array[Int](3)
      var eobrun = 0
      var unit = 0
      def restartCheck(): Unit =
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          bitCnt = 0
          if (pos + 2 > b.length || u8(b, pos) != 0xFF) throw Corrupt
          val m = u8(b, pos + 1)
          if (m < 0xD0 || m > 0xD7) throw Corrupt
          pos += 2
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
        }
      val p1 = 1 << al
      val m1 = -(1 << al)

      def dcFirst(c: Int, off: Int): Unit = {
        val s = decodeHuff((0 << 2) | compDcT(c))
        if (s > 11) throw Corrupt
        pred(c) += extend(receive(s), s)
        coefArrs(c)(off) = pred(c) << al
      }
      def dcRefine(c: Int, off: Int): Unit =
        if (nextBit() == 1) coefArrs(c)(off) |= p1

      def acFirst(c: Int, off: Int): Unit = {
        if (eobrun > 0) { eobrun -= 1; return }
        val arr = coefArrs(c)
        var k = ss
        while (k <= se) {
          val rs = decodeHuff((1 << 2) | compAcT(c))
          val r = rs >> 4; val s = rs & 15
          if (s == 0) {
            if (r == 15) k += 16 // ZRL
            else {
              eobrun = (1 << r) - 1 + (if (r > 0) receive(r) else 0)
              return
            }
          } else {
            k += r
            if (k > se) throw Corrupt
            arr(off + ZigZag(k)) = extend(receive(s), s) << al
            k += 1
          }
        }
      }

      def acRefine(c: Int, off: Int): Unit = {
        val arr = coefArrs(c)
        var k = ss
        // `eobrun` counts REMAINING blocks after the one that declared
        // the run: a block entered inside a run consumes one; a block
        // that DECLARES a run is already excluded at set time — both
        // then sweep correction bits over their remaining band
        var inEob = eobrun > 0
        if (inEob) eobrun -= 1
        else {
          var broke = false
          while (k <= se && !broke) {
            val rs = decodeHuff((1 << 2) | compAcT(c))
            var r = rs >> 4; val s = rs & 15
            var value = 0
            if (s == 0) {
              if (r != 15) {
                eobrun = (1 << r) - 1 + (if (r > 0) receive(r) else 0)
                inEob = true; broke = true
              }
              // r == 15: ZRL — advance over 16 zero-history positions
            } else {
              if (s != 1) throw Corrupt
              value = if (nextBit() == 1) p1 else m1
            }
            if (!broke) {
              var placed = false
              while (k <= se && !placed) {
                val idx = off + ZigZag(k)
                if (arr(idx) != 0) {
                  if (nextBit() == 1 && (arr(idx) & p1) == 0)
                    arr(idx) += (if (arr(idx) >= 0) p1 else m1)
                  k += 1
                } else {
                  r -= 1
                  if (r < 0) {
                    if (value != 0) arr(idx) = value
                    k += 1
                    placed = true
                  } else k += 1
                }
              }
            }
          }
        }
        if (inEob) {
          // correction bits for every nonzero-history coef left in band
          while (k <= se) {
            val idx = off + ZigZag(k)
            if (arr(idx) != 0 && nextBit() == 1 && (arr(idx) & p1) == 0)
              arr(idx) += (if (arr(idx) >= 0) p1 else m1)
            k += 1
          }
        }
      }

      if (ns > 1) {
        // interleaved (DC) scan in MCU order
        var my = 0
        while (my < mcuRows) {
          var mx = 0
          while (mx < mcuCols) {
            restartCheck()
            for (c <- scanComps; bv <- 0 until compV(c);
                 bh2 <- 0 until compH(c)) {
              val bx = mx * compH(c) + bh2
              val by = my * compV(c) + bv
              val off = (by * blocksW(c) + bx) * 64
              if (ah == 0) dcFirst(c, off) else dcRefine(c, off)
            }
            unit += 1
            mx += 1
          }
          my += 1
        }
      } else {
        // single-component scan over the ACTUAL (non-padded) grid
        val c = scanComps(0)
        var by = 0
        while (by < nbH(c)) {
          var bx = 0
          while (bx < nbW(c)) {
            restartCheck()
            val off = (by * blocksW(c) + bx) * 64
            if (ss == 0) { if (ah == 0) dcFirst(c, off) else dcRefine(c, off) }
            else if (ah == 0) acFirst(c, off)
            else acRefine(c, off)
            unit += 1
            bx += 1
          }
          by += 1
        }
      }
    }

    // ---- segment walk ------------------------------------------------
    var sawEoi = false
    while (!sawEoi && pos + 2 <= b.length) {
      if (u8(b, pos) != 0xFF) throw Corrupt
      val marker = u8(b, pos + 1)
      if (marker == 0xFF) pos += 1
      else if ((marker >= 0xD0 && marker <= 0xD7) || marker == 0x01) pos += 2
      else if (marker == 0xD9) sawEoi = true
      else {
        if (pos + 4 > b.length) throw Corrupt
        val len = beU16(b, pos + 2)
        if (len < 2 || pos + 2 + len > b.length) throw Corrupt
        val ds = pos + 4; val de = pos + 2 + len
        marker match {
          case 0xDB =>
            var p = ds
            while (p < de) {
              val pq = u8(b, p) >> 4; val tq = u8(b, p) & 15
              if (tq > 3) throw Corrupt
              val n = if (pq == 0) 64 else 128
              if (p + 1 + n > de) throw Corrupt
              quant(tq) = Array.tabulate(64)(i =>
                if (pq == 0) u8(b, p + 1 + i) else beU16(b, p + 1 + 2 * i))
              p += 1 + n
            }
            pos = de
          case 0xC4 =>
            var p = ds
            while (p < de) {
              val tc = u8(b, p) >> 4; val th = u8(b, p) & 15
              if (tc > 1 || th > 3 || p + 17 > de) throw Corrupt
              val counts = Array.tabulate(17)(i => if (i == 0) 0 else u8(b, p + i))
              val total = counts.sum
              if (p + 17 + total > de) throw Corrupt
              val vals = Array.tabulate(total)(i => u8(b, p + 17 + i))
              val mn = new Array[Int](17); val mx = new Array[Int](17)
              val vp = new Array[Int](17)
              var code = 0; var k = 0
              for (l <- 1 to 16) {
                mn(l) = code; vp(l) = k
                code += counts(l); k += counts(l)
                mx(l) = code - 1
                code <<= 1
              }
              val key = (tc << 2) | th
              hCount(key) = counts; hMin(key) = mn; hMax(key) = mx
              hValPtr(key) = vp; hVals(key) = vals
              p += 17 + total
            }
            pos = de
          case 0xC2 =>
            if (u8(b, ds) != 8) return null
            h = beU16(b, ds + 1); w = beU16(b, ds + 3)
            nComp = u8(b, ds + 5)
            if (w <= 0 || h <= 0 || (nComp != 1 && nComp != 3)) return null
            if (w.toLong * h * 3 > (1L << 30)) return null
            for (c <- 0 until nComp) {
              compId(c) = u8(b, ds + 6 + 3 * c)
              val hv = u8(b, ds + 6 + 3 * c + 1)
              compH(c) = hv >> 4; compV(c) = hv & 15
              if (compH(c) < 1 || compH(c) > 2 ||
                compV(c) < 1 || compV(c) > 2) return null
              compQ(c) = u8(b, ds + 6 + 3 * c + 2)
            }
            if (nComp == 1) { compH(0) = 1; compV(0) = 1 }
            hMaxS = (0 until nComp).map(compH).max
            vMaxS = (0 until nComp).map(compV).max
            mcuCols = (w + 8 * hMaxS - 1) / (8 * hMaxS)
            mcuRows = (h + 8 * vMaxS - 1) / (8 * vMaxS)
            blocksW = Array.tabulate(nComp)(c => mcuCols * compH(c))
            val blocksHArr = Array.tabulate(nComp)(c => mcuRows * compV(c))
            var bytes = 0L
            for (c <- 0 until nComp)
              bytes += blocksW(c).toLong * blocksHArr(c) * 64 * 4
            if (bytes > (1L << 30)) return null
            coefArrs = Array.tabulate(nComp)(c =>
              new Array[Int](blocksW(c) * blocksHArr(c) * 64))
            // actual (non-padded) per-component block grids
            nbW = Array.tabulate(nComp)(c =>
              ((w * compH(c) + hMaxS - 1) / hMaxS + 7) / 8)
            nbH = Array.tabulate(nComp)(c =>
              ((h * compV(c) + vMaxS - 1) / vMaxS + 7) / 8)
            pos = de
          case 0xC0 | 0xC1 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA |
              0xCB | 0xCD | 0xCE | 0xCF =>
            return null // a second, non-progressive frame: malformed
          case 0xDD =>
            restartInterval = beU16(b, ds); pos = de
          case 0xDA =>
            if (coefArrs == null) throw Corrupt // SOS before SOF2
            val ns = u8(b, ds)
            if (ns < 1 || ns > 3 || de < ds + 1 + 2 * ns + 3) throw Corrupt
            val scanComps = new Array[Int](ns)
            for (j <- 0 until ns) {
              val id = u8(b, ds + 1 + 2 * j)
              val c = (0 until nComp).find(compId(_) == id)
                .getOrElse(throw Corrupt)
              scanComps(j) = c
              val tt = u8(b, ds + 2 + 2 * j)
              compDcT(c) = tt >> 4; compAcT(c) = tt & 15
            }
            val ss = u8(b, ds + 1 + 2 * ns)
            val se = u8(b, ds + 2 + 2 * ns)
            val a = u8(b, ds + 3 + 2 * ns)
            pos = de
            decodeScan(scanComps, ss, se, a >> 4, a & 15)
            // resync: byte-aligned skip to the next true marker
            // (stuffed 0xFF00 and stray RSTs are scan residue)
            var found = false
            while (!found && pos + 1 < b.length) {
              if (u8(b, pos) == 0xFF) {
                val m = u8(b, pos + 1)
                if (m != 0x00 && m != 0xFF && !(m >= 0xD0 && m <= 0xD7))
                  found = true
                else pos += (if (m == 0xFF) 1 else 2)
              } else pos += 1
            }
            if (!found) throw Corrupt // ran out without EOI
          case _ => pos = de // APPn / COM
        }
      }
    }
    if (coefArrs == null || w == 0) return null
    for (c <- 0 until nComp) if (quant(compQ(c)) == null) return null

    // ---- reconstruction: dequantize + IDCT + upsample + convert ------
    val planeW = Array.tabulate(nComp)(c => blocksW(c) * 8)
    val planes = Array.tabulate(nComp)(c =>
      new Array[Int](planeW(c) * mcuRows * compV(c) * 8))
    val coefNat = new Array[Int](64)
    for (c <- 0 until nComp) {
      val qtab = quant(compQ(c))
      val arr = coefArrs(c)
      val bwC = blocksW(c); val bhC = mcuRows * compV(c)
      var by = 0
      while (by < bhC) {
        var bx = 0
        while (bx < bwC) {
          val off = (by * bwC + bx) * 64
          var k = 0
          while (k < 64) {
            coefNat(ZigZag(k)) = arr(off + ZigZag(k)) * qtab(k)
            k += 1
          }
          val plane = planes(c)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              var sum = 0.0
              var v = 0
              while (v < 8) {
                var u = 0
                while (u < 8) {
                  val f = coefNat(v * 8 + u)
                  if (f != 0) sum += Cu(u) * Cu(v) * f * CosT(x)(u) * CosT(y)(v)
                  u += 1
                }
                v += 1
              }
              val pix = math.round(sum / 4 + 128).toInt
              plane((by * 8 + y) * planeW(c) + bx * 8 + x) =
                if (pix < 0) 0 else if (pix > 255) 255 else pix
              x += 1
            }
            y += 1
          }
          bx += 1
        }
        by += 1
      }
    }
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val d = (y * w + x) * 3
        if (nComp == 1) {
          val g = planes(0)(y * planeW(0) + x).toByte
          out(d) = g; out(d + 1) = g; out(d + 2) = g
        } else {
          val yy = planes(0)(
            (y * compV(0) / vMaxS) * planeW(0) + x * compH(0) / hMaxS)
          val cb = planes(1)(
            (y * compV(1) / vMaxS) * planeW(1) + x * compH(1) / hMaxS) - 128
          val cr = planes(2)(
            (y * compV(2) / vMaxS) * planeW(2) + x * compH(2) / hMaxS) - 128
          def cl(v: Double): Byte = {
            val r = math.round(v).toInt
            (if (r < 0) 0 else if (r > 255) 255 else r).toByte
          }
          out(d) = cl(yy + 1.402 * cr)
          out(d + 1) = cl(yy - 0.344136 * cb - 0.714136 * cr)
          out(d + 2) = cl(yy + 1.772 * cb)
        }
        x += 1
      }
      y += 1
    }
    out
  } catch {
    case _: scala.util.control.ControlThrowable => null
    case _: IndexOutOfBoundsException => null
  }

  /** Valid baseline JPEG from QUANTIZED coefficient blocks, 1 or 3
    * components at 1×1 sampling (interleaved MCUs, shared tables):
    * `coefs(comp, bx, by)` returns a block's 64 quantized coefficients
    * in ZIG-ZAG order; the encoder quantizes nothing (the caller
    * already did), emitting real DC-difference categories, (run,size)
    * AC pairs with ZRL/EOB, Huffman tables BUILT from the symbols
    * actually used (canonical, fixed-length assignment), 0xFF byte
    * stuffing, and optional restart markers every `restartInterval`
    * MCUs. The exact write-side counterpart of [[jpegPixelBytes]]'s
    * entropy layer — dims need not be multiples of 8 (the decoder
    * crops edge blocks).
    */
  private def synthJpegCoefs(width: Int, height: Int, nComp: Int,
      quantTable: Array[Int], coefs: (Int, Int, Int) => Array[Int],
      restartInterval: Int,
      sampling: Seq[(Int, Int)] = Seq.fill(4)((1, 1)),
      adobeTransform: Int = -1,
      precision: Int = 8): Array[Byte] = {
    require(nComp == 1 || nComp == 3 || nComp == 4,
      s"1, 3 or 4 components: $nComp")
    require(adobeTransform == -1 || nComp == 4,
      "APP14 transform only with 4 components")
    require(precision == 8 || precision == 12, s"precision 8 or 12: $precision")
    require(precision == 8 || nComp != 4, "12-bit CMYK is out of profile")
    require(quantTable.length == 64, "quant table must have 64 entries")
    val qMax = if (precision == 8) 255 else 65535 // 12-bit DQT is Pq=1
    require(quantTable.forall(q => q >= 1 && q <= qMax),
      s"quant entries 1..$qMax")
    require(sampling.length >= nComp &&
      sampling.take(nComp).forall { case (hc, vc) =>
        hc >= 1 && hc <= 2 && vc >= 1 && vc <= 2 },
      s"sampling factors must be 1 or 2 per axis: $sampling")
    val hMax = sampling.take(nComp).map(_._1).max
    val vMax = sampling.take(nComp).map(_._2).max
    val mcuCols = (width + 8 * hMax - 1) / (8 * hMax)
    val mcuRows = (height + 8 * vMax - 1) / (8 * vMax)
    // blocks of one MCU in scan order; component c's block grid spans
    // the PADDED mcuCols·h_c × mcuRows·v_c area (the decoder crops)
    def mcuBlocks(mx: Int, my: Int): Seq[(Int, Int, Int)] =
      for {
        comp <- 0 until nComp
        bv <- 0 until sampling(comp)._2
        bhh <- 0 until sampling(comp)._1
      } yield (comp, mx * sampling(comp)._1 + bhh, my * sampling(comp)._2 + bv)

    def category(v: Int): Int =
      if (v == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(v))

    // ---- first pass: collect the (run,size)/category symbols used ----
    val dcSyms = scala.collection.mutable.SortedSet.empty[Int]
    val acSyms = scala.collection.mutable.SortedSet.empty[Int]
    val prevDcScan = new Array[Int](nComp)
    var mcuScan = 0
    for (my <- 0 until mcuRows; mx <- 0 until mcuCols) {
      if (restartInterval > 0 && mcuScan % restartInterval == 0)
        java.util.Arrays.fill(prevDcScan, 0)
      mcuScan += 1
      for ((comp, bx, by) <- mcuBlocks(mx, my)) {
        val cs = coefs(comp, bx, by)
        require(cs.length == 64, s"block ($comp,$bx,$by) must have 64 coefficients")
        dcSyms += category(cs(0) - prevDcScan(comp)); prevDcScan(comp) = cs(0)
        // EOB is emitted ONLY when the last nonzero zigzag index < 63:
        // the decoder's AC loop exits at k=64 without consuming a
        // symbol, so an EOB after coefficient 63 would desync the
        // stream.
        val lastNz = (1 to 63).foldLeft(0)((m, k) => if (cs(k) != 0) k else m)
        var k = 1; var run = 0
        while (k <= lastNz) {
          if (cs(k) == 0) run += 1
          else {
            while (run >= 16) { acSyms += 0xF0; run -= 16 }
            acSyms += (run << 4) | category(cs(k)); run = 0
          }
          k += 1
        }
        if (lastNz < 63) acSyms += 0x00
      }
    }

    // ---- canonical fixed-length Huffman table over the used symbols --
    // All codes get the same length L with 2^L > nSyms (so the all-ones
    // code stays unused, as T.81 encoders conventionally arrange).
    def buildTable(syms: Seq[Int]): (Map[Int, (Int, Int)], Array[Int], Seq[Int]) = {
      var l = 1
      while ((1 << l) <= syms.size) l += 1
      val codes = syms.zipWithIndex.map { case (s, i) => s -> (i, l) }.toMap
      val counts = Array.fill(17)(0); counts(l) = syms.size
      (codes, counts, syms)
    }
    val (dcCodes, dcCounts, dcList) = buildTable(dcSyms.toSeq)
    val (acCodes, acCounts, acList) = buildTable(acSyms.toSeq)

    // ---- emit ---------------------------------------------------------
    val out = new java.io.ByteArrayOutputStream()
    def put(bytes: Int*): Unit = bytes.foreach(v => out.write(v & 0xFF))
    def putSeg(marker: Int, payload: Array[Int]): Unit = {
      put(0xFF, marker, (payload.length + 2) >> 8, (payload.length + 2) & 0xFF)
      payload.foreach(v => out.write(v & 0xFF))
    }
    put(0xFF, 0xD8)                                        // SOI
    if (adobeTransform >= 0)                               // APP14 "Adobe"
      putSeg(0xEE, Array('A', 'd', 'o', 'b', 'e', 0, 100, 0, 0, 0, 0,
        adobeTransform))
    if (precision == 8)
      putSeg(0xDB, Array(0x00) ++ quantTable)              // DQT id 0, Pq=0
    else // 12-bit samples carry 16-bit table entries (T.81 Pq=1)
      putSeg(0xDB, Array(0x10) ++
        quantTable.flatMap(q => Seq(q >> 8, q & 0xFF)))
    putSeg(0xC0, Array(precision,                          // SOF0
      height >> 8, height & 0xFF, width >> 8, width & 0xFF, nComp) ++
      (0 until nComp).flatMap(c =>
        Seq(c + 1, (sampling(c)._1 << 4) | sampling(c)._2, 0))) // q0 each
    putSeg(0xC4, Array(0x00) ++ dcCounts.drop(1) ++ dcList) // DHT DC 0
    putSeg(0xC4, Array(0x10) ++ acCounts.drop(1) ++ acList) // DHT AC 0
    if (restartInterval > 0)
      putSeg(0xDD, Array(restartInterval >> 8, restartInterval & 0xFF))
    putSeg(0xDA, Array(nComp) ++                           // SOS
      (0 until nComp).flatMap(c => Seq(c + 1, 0x00)) ++ Seq(0, 63, 0))

    var bitBuf = 0; var bitCnt = 0
    def putBits(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        bitBuf = (bitBuf << 1) | ((code >> i) & 1); bitCnt += 1
        if (bitCnt == 8) {
          out.write(bitBuf & 0xFF)
          if ((bitBuf & 0xFF) == 0xFF) out.write(0x00)     // byte stuffing
          bitBuf = 0; bitCnt = 0
        }
        i -= 1
      }
    }
    def flushBits(): Unit = if (bitCnt > 0) {               // pad with 1s
      putBits((1 << (8 - bitCnt)) - 1, 8 - bitCnt)
    }
    val prevDc = new Array[Int](nComp)
    var rst = 0
    var mcu = 0
    for (my <- 0 until mcuRows; mx <- 0 until mcuCols) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        flushBits()
        put(0xFF, 0xD0 + (rst & 7)); rst += 1
        java.util.Arrays.fill(prevDc, 0)
      }
      mcu += 1
      for ((comp, bx, by) <- mcuBlocks(mx, my)) {
        val cs = coefs(comp, bx, by)
        val diff = cs(0) - prevDc(comp); prevDc(comp) = cs(0)
        val s = category(diff)
        val (dcC, dcL) = dcCodes(s)
        putBits(dcC, dcL)
        if (s > 0) putBits(if (diff < 0) diff + (1 << s) - 1 else diff, s)
        val lastNz = (1 to 63).foldLeft(0)((m, k) => if (cs(k) != 0) k else m)
        var k = 1; var run = 0
        while (k <= lastNz) {
          if (cs(k) == 0) run += 1
          else {
            while (run >= 16) {
              val (c0, l0) = acCodes(0xF0); putBits(c0, l0); run -= 16
            }
            val sz = category(cs(k))
            val (c1, l1) = acCodes((run << 4) | sz)
            putBits(c1, l1)
            putBits(if (cs(k) < 0) cs(k) + (1 << sz) - 1 else cs(k), sz)
            run = 0
          }
          k += 1
        }
        if (lastNz < 63) { val (ce, le) = acCodes(0x00); putBits(ce, le) } // EOB
      }
    }
    flushBits()
    put(0xFF, 0xD9)                                        // EOI
    out.toByteArray
  }

  /** Grayscale form of the coefficient encoder (see [[synthJpegYccCoefs]]
    * for the 3-component interleaved form).
    */
  def synthJpegGrayCoefs(width: Int, height: Int, quantTable: Array[Int],
      coefs: (Int, Int) => Array[Int], restartInterval: Int = 0): Array[Byte] =
    synthJpegCoefs(width, height, 1, quantTable,
      (_, bx, by) => coefs(bx, by), restartInterval)

  /** 3-component (YCbCr, interleaved MCUs, shared tables) coefficient
    * encoder: `coefs(comp, bx, by)` with comp 0=Y, 1=Cb, 2=Cr, block
    * grids per component spanning the PADDED
    * `mcuCols·h_c × mcuRows·v_c` area for the given `sampling`
    * factors (default 1×1 everywhere = 4:4:4; `Seq((2,2),(1,1),
    * (1,1))` = the 4:2:0 virtually all real color JPEGs use).
    * Write-side proof of the decoder's interleaved multi-block MCU
    * walk, per-component DC prediction, chroma upsampling, and color
    * conversion.
    */
  def synthJpegYccCoefs(width: Int, height: Int, quantTable: Array[Int],
      coefs: (Int, Int, Int) => Array[Int],
      restartInterval: Int = 0,
      sampling: Seq[(Int, Int)] = Seq.fill(3)((1, 1))): Array[Byte] =
    synthJpegCoefs(width, height, 3, quantTable, coefs, restartInterval,
      sampling)

  /** 4-component (print-origin Adobe CMYK/YCCK) coefficient encoder:
    * emits the APP14 "Adobe" marker carrying `transform` (0 = stored
    * inverted CMYK, 2 = YCCK) before the frame — the write-side
    * counterpart of [[jpegPixelBytes]]'s four-plane MCU walk and
    * K-composition.
    */
  def synthJpegCmykCoefs(width: Int, height: Int, quantTable: Array[Int],
      coefs: (Int, Int, Int) => Array[Int],
      restartInterval: Int = 0,
      sampling: Seq[(Int, Int)] = Seq.fill(4)((1, 1)),
      transform: Int = 0): Array[Byte] =
    synthJpegCoefs(width, height, 4, quantTable, coefs, restartInterval,
      sampling, adobeTransform = transform)

  /** Block-constant inverted-CMYK JPEG: component `c` of block
    * (bx,by) holds `blockVal(c, bx, by)` (0..255, the STORED inverted
    * sample). All-8s quant keeps the chain integer-exact like
    * [[synthJpegGray]], so an oracle replays
    * `rgb = stored_cmy · stored_k / 255` without modeling the
    * transform.
    */
  def synthJpegCmyk(width: Int, height: Int,
      blockVal: (Int, Int, Int) => Int, transform: Int = 0): Array[Byte] =
    synthJpegCmykCoefs(width, height, Array.fill(64)(8),
      (c, bx, by) => {
        val v = blockVal(c, bx, by)
        require(v >= 0 && v <= 255, s"block value out of range: $v")
        val cs = new Array[Int](64); cs(0) = v - 128; cs
      }, transform = transform)

  /** 12-bit block-constant baseline JPEG (1 = grayscale or 3 = YCbCr
    * components): component `c` of block (bx,by) holds
    * `blockVal(c,bx,by)` (0..4095, the 12-bit sample). Emits a Pq=1
    * 16-bit DQT and SOF precision 12; the all-8s quant keeps the
    * plane decode INTEGER-EXACT exactly like [[synthJpegGray]]
    * ((v−2048)·8 / 8 + 2048 = v), so an oracle replays the 12-bit
    * color math and the final high-byte (>>4) fold.
    */
  def synthJpeg12(width: Int, height: Int, nComp: Int,
      blockVal: (Int, Int, Int) => Int): Array[Byte] =
    synthJpegCoefs(width, height, nComp, Array.fill(64)(8),
      (c, bx, by) => {
        val v = blockVal(c, bx, by)
        require(v >= 0 && v <= 4095, s"block value out of range: $v")
        val cs = new Array[Int](64); cs(0) = v - 2048; cs
      }, restartInterval = 0, precision = 12)

  /** Block-constant grayscale JPEG: block (bx,by) holds the single
    * value `blockVal(bx,by)` (0..255). With the all-8s quant table the
    * whole decode chain is INTEGER-EXACT — the DC coefficient of a
    * constant block v is 8·(v−128), which quantizes by 8 without loss
    * and survives the IDCT's power-of-two scaling to reproduce v
    * bit-for-bit — so an external oracle can replay the generator
    * arithmetic without modeling the transform.
    */
  def synthJpegGray(width: Int, height: Int,
      blockVal: (Int, Int) => Int): Array[Byte] =
    synthJpegGrayCoefs(width, height, Array.fill(64)(8),
      (bx, by) => {
        val v = blockVal(bx, by)
        require(v >= 0 && v <= 255, s"block value out of range: $v")
        val c = new Array[Int](64); c(0) = v - 128; c
      })

  /** ITU G.711 μ-law byte → linear s16 (the ×4-scaled CCITT expansion,
    * ±32124 full scale — the convention libsndfile/sox emit).
    */
  def ulawToLinear(byte: Int): Int = {
    val u = (~byte) & 0xFF
    val t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ITU G.711 A-law byte → linear s16 (±32256 full scale; the sign
    * bit SET means positive, after the 0x55 toggle).
    */
  def alawToLinear(byte: Int): Int = {
    val a = byte ^ 0x55
    val exp = (a >> 4) & 7
    val mant = a & 0x0F
    val t = if (exp == 0) (mant << 4) + 8 else ((mant << 4) + 0x108) << (exp - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** Decode a WAV's `data` chunk into signed 16-bit samples. Format
    * codes: 1 (integer PCM at 8-bit unsigned, 16-bit s16le, 24-bit
    * s24le, or 32-bit s32le — wider depths keep their top 16 bits,
    * 8-bit recenters and scales up), 3 (IEEE float32, scaled by 2¹⁵
    * and clamped), 7 (G.711 μ-law) and 6 (G.711 A-law) — the
    * telephony formats expand through the real ITU segment arithmetic
    * ([[ulawToLinear]]/[[alawToLinear]]). WAVE_FORMAT_EXTENSIBLE
    * (0xFFFE) resolves its REAL code from the SubFormat GUID's first
    * two bytes — the header shape most multi-channel/high-depth
    * writers emit. Anything else null — same degrade-don't-throw
    * posture as the header parsers. Walks chunks, so LIST/JUNK
    * prefixes and trailing metadata chunks are handled.
    */
  /** The fixed KSDATAFORMAT media-subtype GUID tail
    * (xxxxxxxx-0000-0010-8000-00AA00389B71) every standard
    * WAVE_FORMAT_EXTENSIBLE SubFormat carries after its data1 code.
    */
  private val KsDataFormatTail = Array(0x00, 0x00, 0x00, 0x00, 0x10, 0x00,
    0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71)

  /** Resolve the REAL format code of the fmt chunk at `fi`: the
    * wFormatTag itself, or — for WAVE_FORMAT_EXTENSIBLE (0xFFFE) —
    * the SubFormat GUID's data1 (fmt data offset 24 = 16 base +
    * cbSize 2 + validBits 2 + mask 4), trusted ONLY under the fixed
    * [[KsDataFormatTail]]. Shared by [[wavSamples]] and
    * [[unsupportedAudioProfile]] so the decoder and the loss
    * classifier can never disagree on what a header names.
    * −1 = structurally damaged (extensible fmt too short for its
    * GUID); −2 = a vendor SubFormat GUID (a nameable codec gap).
    */
  private def wavFormatCode(b: Array[Byte], fi: Int): Int = {
    val rawCode = leU16(b, fi + 8)
    if (rawCode != 0xFFFE) return rawCode
    val fmtSize = leU32(b, fi + 4)
    if (!(fmtSize >= 40L && fi + 8 + 24 + 16 <= b.length)) return -1
    val g = fi + 8 + 24
    var k = 0
    while (k < 14) {
      if (u8(b, g + 2 + k) != KsDataFormatTail(k)) return -2
      k += 1
    }
    leU16(b, g)
  }

  /** IMA/DVI ADPCM step-size table (89 entries) and index-advance
    * table — the public constants every IMA implementation shares.
    */
  private val ImaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private val ImaIndexAdj: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA channel's rolling (predictor, step-index) state; `step`
    * advances it by one nibble and returns the decoded sample.
    */
  private final class ImaState(var pred: Int, var idx: Int) {
    def step(n: Int): Short = {
      val s = ImaStep(idx)
      var diff = s >> 3
      if ((n & 1) != 0) diff += s >> 2
      if ((n & 2) != 0) diff += s >> 1
      if ((n & 4) != 0) diff += s
      pred = if ((n & 8) != 0) pred - diff else pred + diff
      if (pred < -32768) pred = -32768 else if (pred > 32767) pred = 32767
      idx += ImaIndexAdj(n)
      if (idx < 0) idx = 0 else if (idx > 88) idx = 88
      pred.toShort
    }
  }

  /** Decode IMA ADPCM blocks (mono or stereo): each `blockAlign`-byte
    * block opens with a 4-byte header PER CHANNEL (s16le initial
    * predictor — emitted as the channel's first sample, per the
    * MS/libsndfile convention — u8 step index, reserved) followed by
    * 4-bit nibbles LOW-first, mono as a flat run, stereo in
    * alternating 4-byte words (8 nibbles left, 8 nibbles right,
    * interleaved on output L,R). Per nibble: `diff = step>>3
    * (+ step>>2 if bit0)(+ step>>1 if bit1)(+ step if bit2)`, sign
    * from bit 3, predictor clamped to s16, index advanced by the
    * standard table and clamped to 0..88. A trailing partial block
    * decodes the nibbles (mono) / complete word-pairs (stereo) it
    * has; a header index over 88 is corruption → null.
    */
  private def imaAdpcmDecode(b: Array[Byte], dataOff: Int, avail: Int,
      blockAlign: Int, channels: Int): Array[Short] = {
    val hdr = 4 * channels
    if (blockAlign < hdr + 1) return null
    val out = new scala.collection.mutable.ArrayBuffer[Short]()
    var blk = 0
    while (blk.toLong * blockAlign + hdr <= avail) {
      val base = dataOff + blk * blockAlign
      val st = Array.tabulate(channels) { c =>
        val h = base + 4 * c
        val pred = ((u8(b, h) | (u8(b, h + 1) << 8)) << 16) >> 16
        val idx = u8(b, h + 2)
        if (idx > 88) return null // damaged header
        new ImaState(pred, idx)
      }
      st.foreach(s => out += s.pred.toShort)
      val dataBytes = math.min(blockAlign, avail - blk.toLong * blockAlign)
        .toInt - hdr
      if (channels == 1) {
        var j = 0
        val nNibbles = dataBytes * 2
        while (j < nNibbles) {
          val byte = u8(b, base + hdr + (j >> 1))
          out += st(0).step(if ((j & 1) == 0) byte & 0x0F else byte >> 4)
          j += 1
        }
      } else {
        // stereo: 4-byte word per channel, repeating; only complete
        // L+R word pairs interleave (a cut mid-pair is dropped)
        val nPairs = dataBytes / 8
        val lch = new Array[Short](8); val rch = new Array[Short](8)
        var g = 0
        while (g < nPairs) {
          val p0 = base + hdr + g * 8
          var k = 0
          while (k < 8) {
            val lb = u8(b, p0 + (k >> 1))
            lch(k) = st(0).step(if ((k & 1) == 0) lb & 0x0F else lb >> 4)
            val rb = u8(b, p0 + 4 + (k >> 1))
            rch(k) = st(1).step(if ((k & 1) == 0) rb & 0x0F else rb >> 4)
            k += 1
          }
          k = 0
          while (k < 8) { out += lch(k); out += rch(k); k += 1 }
          g += 1
        }
      }
      blk += 1
    }
    if (out.isEmpty) null else out.toArray
  }

  /** MS-ADPCM adaptation table and the 7 standard coefficient pairs
    * (RIFF spec constants every implementation shares).
    */
  private val MsAdapt: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)
  private val MsCoef1: Array[Int] = Array(256, 512, 0, 192, 240, 460, 392)
  private val MsCoef2: Array[Int] = Array(0, -256, 0, 64, 0, -208, -232)

  /** One MS-ADPCM channel's rolling (prev, prev2, delta) state;
    * `step` advances it by one nibble and returns the decoded sample.
    * The delta floor of 16 is per spec; the 32767 ceiling is THIS
    * decoder's documented convention — a step beyond the s16 sample
    * range is useless to a real encoder, and without the cap a
    * hostile nibble stream grows delta exponentially into integer
    * overflow.
    */
  private final class MsState(val c1: Int, val c2: Int,
      var delta: Int, var prev: Int, var prev2: Int) {
    def step(n: Int): Short = {
      val signed = if (n >= 8) n - 16 else n
      var p = ((prev * c1 + prev2 * c2) >> 8) + signed * delta
      if (p < -32768) p = -32768 else if (p > 32767) p = 32767
      prev2 = prev; prev = p
      delta = math.min(math.max(16, (MsAdapt(n) * delta) >> 8), 32767)
      p.toShort
    }
  }

  /** Decode MS-ADPCM blocks (mono or stereo). The block header packs
    * per-channel fields FIELD-MAJOR (all coefficient indices, all
    * deltas, all sample1s, all sample2s — 7 bytes/channel), the seeds
    * are output sample2-then-sample1 (interleaved L,R for stereo),
    * and nibbles are HIGH-first (the opposite packing of IMA) with
    * stereo alternating channels PER NIBBLE: a byte's high nibble is
    * a left sample, its low nibble the right. Per nibble:
    * `pred = (prev·c1 + prev2·c2) >> 8 + signed4(n)·delta` clamped to
    * s16, then the adaptive delta schedule. A trailing partial block
    * decodes the nibbles (mono) / complete L,R byte-pairs (stereo) it
    * has; a coefficient index over 6 is corruption → null.
    */
  private def msAdpcmDecode(b: Array[Byte], dataOff: Int, avail: Int,
      blockAlign: Int, channels: Int): Array[Short] = {
    val hdr = 7 * channels
    if (blockAlign < hdr + 1) return null
    val out = new scala.collection.mutable.ArrayBuffer[Short]()
    var blk = 0
    while (blk.toLong * blockAlign + hdr <= avail) {
      val base = dataOff + blk * blockAlign
      def s16(i: Int): Int = ((u8(b, i) | (u8(b, i + 1) << 8)) << 16) >> 16
      val st = Array.tabulate(channels) { c =>
        val ci = u8(b, base + c)
        if (ci > 6) return null // damaged header
        new MsState(MsCoef1(ci), MsCoef2(ci),
          s16(base + channels + 2 * c),           // initial delta
          s16(base + 3 * channels + 2 * c),       // sample1 (recent)
          s16(base + 5 * channels + 2 * c))       // sample2 (older)
      }
      st.foreach(s => out += s.prev2.toShort) // sample2s first, per spec
      st.foreach(s => out += s.prev.toShort)
      val dataBytes = math.min(blockAlign, avail - blk.toLong * blockAlign)
        .toInt - hdr
      if (channels == 1) {
        var j = 0
        val nNibbles = dataBytes * 2
        while (j < nNibbles) {
          val byte = u8(b, base + hdr + (j >> 1))
          out += st(0).step(if ((j & 1) == 0) byte >> 4 else byte & 0x0F)
          j += 1
        }
      } else {
        var j = 0
        while (j < dataBytes) {
          val byte = u8(b, base + hdr + j)
          out += st(0).step(byte >> 4)   // high nibble: left
          out += st(1).step(byte & 0x0F) // low nibble: right
          j += 1
        }
      }
      blk += 1
    }
    if (out.isEmpty) null else out.toArray
  }

  def wavSamples(b: Array[Byte]): Array[Short] = {
    if (!(b.length >= 12 && ascii(b, 0, 4) == "RIFF" && ascii(b, 8, 4) == "WAVE"))
      return null
    // the format CODE, which MediaHeader doesn't carry
    val fi = findWavFmt(b)
    if (fi < 0) return null
    val bits = leU16(b, fi + 22)
    val channels = leU16(b, fi + 10)
    val fmtCode = wavFormatCode(b, fi)
    if (fmtCode < 0) return null // damaged extensible / vendor GUID
    val mode = (fmtCode, bits) match {
      case (1, 8)  => 3 // PCM u8 (unsigned by spec at this depth)
      case (1, 16) => 0 // PCM s16le
      case (1, 24) => 4 // PCM s24le
      case (1, 32) => 5 // PCM s32le
      case (3, 32) => 6 // IEEE float32
      case (7, 8)  => 1 // μ-law
      case (6, 8)  => 2 // A-law
      case (17, 4) if channels == 1 || channels == 2 =>
        7 // IMA/DVI ADPCM, block-coded, mono or stereo
      case (2, 4) if channels == 1 || channels == 2 =>
        8 // MS-ADPCM, block-coded, mono or stereo
      case _       => return null
    }
    var off = 12L
    while (off + 8 <= b.length) {
      val i = off.toInt
      val id = ascii(b, i, 4)
      val size = leU32(b, i + 4)
      if (id == "data") {
        val avail = math.min(size, b.length - (off + 8)) // truncated: take what's there
        if (mode == 7) // block-coded, not fixed-width: own decode path
          return imaAdpcmDecode(b, i + 8, avail.toInt, leU16(b, fi + 20),
            channels)
        if (mode == 8)
          return msAdpcmDecode(b, i + 8, avail.toInt, leU16(b, fi + 20),
            channels)
        val width = mode match {
          case 0 => 2; case 4 => 3; case 5 | 6 => 4; case _ => 1
        }
        val n = (avail / width).toInt
        val out = new Array[Short](n)
        var j = 0
        while (j < n) {
          val p = i + 8 + width * j
          out(j) = (mode: @annotation.switch) match {
            case 0 => (u8(b, p) | (u8(b, p + 1) << 8)).toShort
            case 1 => ulawToLinear(u8(b, p)).toShort
            case 2 => alawToLinear(u8(b, p)).toShort
            case 3 => ((u8(b, p) - 128) << 8).toShort
            case 4 => // s24le: arithmetic >> 8 keeps the top 16 bits
              (((u8(b, p) | (u8(b, p + 1) << 8) | (u8(b, p + 2) << 16)) << 8) >> 16).toShort
            case 5 => ((leS32(b, p)) >> 16).toShort
            case _ =>
              val f = java.lang.Float.intBitsToFloat(leS32(b, p))
              val v = math.round(f * 32768.0f)
              (if (v < -32768) -32768 else if (v > 32767) 32767 else v).toShort
          }
          j += 1
        }
        return out
      }
      off += 8L + size + (size & 1L)
    }
    null
  }

  /** Valid WAVE_FORMAT_EXTENSIBLE wrapper around `payload`: a 40-byte
    * fmt chunk with code 0xFFFE, valid-bits/channel-mask fields, and
    * the KSDATAFORMAT SubFormat GUID carrying the REAL format code in
    * its first two bytes — the write-side counterpart of
    * [[wavSamples]]'s extensible resolution.
    */
  def synthWavExtensible(sampleRate: Int, channels: Int, bitsPerSample: Int,
      payload: Array[Byte], subFormat: Int = 1): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val out = java.nio.ByteBuffer.allocate(12 + 8 + 40 + 8 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(4 + 48 + 8 + payload.length)
      .put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(40)
      .putShort(0xFFFE.toShort)
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign)
      .putShort(blockAlign.toShort)
      .putShort(bitsPerSample.toShort)
      .putShort(22)                        // cbSize
      .putShort(bitsPerSample.toShort)     // valid bits
      .putInt(if (channels == 1) 0x4 else 0x3) // speaker mask
      .putShort(subFormat.toShort).putShort(0) // GUID data1 = format code
      .putShort(0)                             // data2
      .putShort(0x10.toShort)                  // data3
      .put(Array(0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71)
        .map(_.toByte))                        // data4 (KSDATAFORMAT)
    out.put("data".getBytes).putInt(payload.length).put(payload)
    out.array()
  }

  /** Valid mono IMA-ADPCM WAV — the write-side counterpart of
    * [[imaAdpcmDecode]]: a 20-byte fmt chunk (wFormatTag 0x11,
    * wBitsPerSample 4, cbSize 2 carrying wSamplesPerBlock) and one
    * data block per `(predictor, stepIndex, nibbles)` triple — 4-byte
    * block header then the nibbles packed LOW-first. Every block must
    * carry the same nibble count (blocks share one blockAlign).
    */
  def synthWavImaAdpcm(sampleRate: Int,
      blocks: Seq[(Int, Int, Array[Int])]): Array[Byte] = {
    require(blocks.nonEmpty, "at least one block")
    val nNib = blocks.head._3.length
    require(nNib > 0 && nNib % 2 == 0, s"nibble count must be even: $nNib")
    require(blocks.forall(_._3.length == nNib), "uniform block size")
    require(blocks.forall { case (p, i, ns) =>
      p >= -32768 && p <= 32767 && i >= 0 && i <= 88 &&
        ns.forall(n => n >= 0 && n <= 15)
    }, "predictor s16, index 0..88, nibbles 0..15")
    val blockAlign = 4 + nNib / 2
    val dataLen = blocks.length * blockAlign
    val out = java.nio.ByteBuffer.allocate(12 + 8 + 20 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(4 + 28 + 8 + dataLen).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(20)
      .putShort(0x11)                       // IMA/DVI ADPCM
      .putShort(1)                          // mono
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign / (nNib + 1)) // approx byte rate
      .putShort(blockAlign.toShort)
      .putShort(4)                          // bits per (coded) sample
      .putShort(2)                          // cbSize
      .putShort((nNib + 1).toShort)         // wSamplesPerBlock
    out.put("data".getBytes).putInt(dataLen)
    for ((p, i, ns) <- blocks) {
      out.putShort(p.toShort).put(i.toByte).put(0.toByte)
      var j = 0
      while (j < nNib) {
        out.put((ns(j) | (ns(j + 1) << 4)).toByte) // low nibble first
        j += 2
      }
    }
    out.array()
  }

  /** Valid STEREO IMA-ADPCM WAV — the interleaved-word layout real
    * stereo IMA files ship: per block an 8-byte header pair (4 bytes
    * per channel: s16le predictor, u8 step index, reserved) then
    * alternating 4-byte nibble words — 8 left samples, 8 right. Each
    * block is `(predL, idxL, predR, idxR, nibblesL, nibblesR)` with
    * equal per-channel nibble counts that are multiples of 8 (word
    * granularity).
    */
  def synthWavImaAdpcmStereo(sampleRate: Int,
      blocks: Seq[(Int, Int, Int, Int, Array[Int], Array[Int])]): Array[Byte] = {
    require(blocks.nonEmpty, "at least one block")
    val nNib = blocks.head._5.length
    require(nNib > 0 && nNib % 8 == 0,
      s"per-channel nibble count must be a multiple of 8: $nNib")
    require(blocks.forall(bk => bk._5.length == nNib && bk._6.length == nNib),
      "uniform block size across blocks and channels")
    require(blocks.forall { case (pl, il, pr, ir, nl, nr) =>
      Seq(pl, pr).forall(p => p >= -32768 && p <= 32767) &&
        Seq(il, ir).forall(i => i >= 0 && i <= 88) &&
        (nl ++ nr).forall(n => n >= 0 && n <= 15)
    }, "predictor s16, index 0..88, nibbles 0..15")
    val blockAlign = 8 + nNib // nNib/2 bytes per channel, two channels
    val dataLen = blocks.length * blockAlign
    val out = java.nio.ByteBuffer.allocate(12 + 8 + 20 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(4 + 28 + 8 + dataLen).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(20)
      .putShort(0x11)                       // IMA/DVI ADPCM
      .putShort(2)                          // stereo
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign / (nNib + 1)) // approx byte rate
      .putShort(blockAlign.toShort)
      .putShort(4)                          // bits per (coded) sample
      .putShort(2)                          // cbSize
      .putShort((nNib + 1).toShort)         // wSamplesPerBlock (per channel)
    out.put("data".getBytes).putInt(dataLen)
    for ((pl, il, pr, ir, nl, nr) <- blocks) {
      out.putShort(pl.toShort).put(il.toByte).put(0.toByte)
      out.putShort(pr.toShort).put(ir.toByte).put(0.toByte)
      var w = 0
      while (w < nNib / 8) { // alternate 4-byte words: L then R
        for (ns <- Seq(nl, nr)) {
          var j = w * 8
          while (j < w * 8 + 8) {
            out.put((ns(j) | (ns(j + 1) << 4)).toByte) // low nibble first
            j += 2
          }
        }
        w += 1
      }
    }
    out.array()
  }

  /** Valid mono MS-ADPCM WAV — the write-side counterpart of
    * [[msAdpcmDecode]]: a 50-byte fmt chunk (wFormatTag 2,
    * wBitsPerSample 4, cbSize 32 carrying wSamplesPerBlock and the 7
    * standard coefficient pairs) and one data block per
    * `(coefIdx, delta, sample1, sample2, nibbles)` tuple — 7-byte
    * block header then the nibbles packed HIGH-first. Every block
    * must carry the same nibble count.
    */
  def synthWavMsAdpcm(sampleRate: Int,
      blocks: Seq[(Int, Int, Int, Int, Array[Int])]): Array[Byte] = {
    require(blocks.nonEmpty, "at least one block")
    val nNib = blocks.head._5.length
    require(nNib > 0 && nNib % 2 == 0, s"nibble count must be even: $nNib")
    require(blocks.forall(_._5.length == nNib), "uniform block size")
    require(blocks.forall { case (ci, d, s1, s2, ns) =>
      ci >= 0 && ci <= 6 &&
        d >= -32768 && d <= 32767 &&
        s1 >= -32768 && s1 <= 32767 && s2 >= -32768 && s2 <= 32767 &&
        ns.forall(n => n >= 0 && n <= 15)
    }, "coef 0..6, delta/samples s16, nibbles 0..15")
    val blockAlign = 7 + nNib / 2
    val dataLen = blocks.length * blockAlign
    val out = java.nio.ByteBuffer.allocate(12 + 8 + 50 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(4 + 58 + 8 + dataLen).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(50)
      .putShort(2)                          // MS-ADPCM
      .putShort(1)                          // mono
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign / (nNib + 2)) // approx byte rate
      .putShort(blockAlign.toShort)
      .putShort(4)                          // bits per (coded) sample
      .putShort(32)                         // cbSize
      .putShort((nNib + 2).toShort)         // wSamplesPerBlock
      .putShort(7)                          // wNumCoef
    for (i <- 0 until 7)
      out.putShort(MsCoef1(i).toShort).putShort(MsCoef2(i).toShort)
    out.put("data".getBytes).putInt(dataLen)
    for ((ci, d, s1, s2, ns) <- blocks) {
      out.put(ci.toByte).putShort(d.toShort)
        .putShort(s1.toShort).putShort(s2.toShort)
      var j = 0
      while (j < nNib) {
        out.put(((ns(j) << 4) | ns(j + 1)).toByte) // HIGH nibble first
        j += 2
      }
    }
    out.array()
  }

  /** Whether a RECOGNIZED image container that failed to decode did so
    * because of a feature outside this decoder's supported profile
    * (16-bit/palette/interlaced PNG, progressive or >2× -sampled JPEG,
    * unsupported-compression/depth/planar TIFF, RLE or exotic-depth
    * BMP, partial-frame GIF) — as opposed to plain corruption. Drives
    * the `decode_err` observability column: at corpus scale, "we don't
    * support this profile yet" and "the bytes are damaged" demand
    * different fixes, so they must not be conflated in loss metrics.
    * Callers pass the format [[parse]] detected; unknown formats and
    * well-formed-but-undecodable cases return false (= corrupt).
    */
  def unsupportedImageProfile(b: Array[Byte], fmt: String): Boolean = try {
    fmt match {
      case "png" =>
        // every spec-valid PNG profile (all depth/color combos,
        // sequential and Adam7) now decodes — an undecodable PNG is
        // corruption, never a profile gap
        false
      case "webp" =>
        // lossless VP8L decodes in full (undecodable VP8L =
        // corruption). Still lossy VP8 decodes via [[Vp8]], but its
        // DEFAULT probability tables are unpinned offline (see the
        // Vp8 scaladoc): a real-world file relying on them can fail
        // decode without being damaged, so a failing VP8 still image
        // stays a NAMED gap rather than quarantined as corrupt.
        // Animations COMPOSE now (VP8L and VP8-keyframe sub-frames,
        // ALPH transparency) — callers try [[Webp.webpAnimate]]
        // before landing here — so a FAILING animation is likewise a
        // named gap (interframe sub-images, default-table reliance),
        // as are opaque extended stills.
        Webp.probe(b) match {
          case ("vp8l", _, _) => false
          case ("vp8", _, _) => Webp.yuv(b) == null
          case null => false
          case _ => true
        }
      case "jpeg" =>
        // walk to the frame marker: non-SOF0 frames (progressive SOF2,
        // arithmetic SOF9, …) or sampling factors above 2 are profile
        // gaps, not corruption
        var off = 2
        var res = false
        var done = false
        while (!done && off + 4 <= b.length) {
          if (u8(b, off) != 0xFF) done = true
          else {
            val m = u8(b, off + 1)
            if (m == 0xFF) off += 1
            else if ((m >= 0xD0 && m <= 0xD7) || m == 0x01) off += 2
            else {
              val len = beU16(b, off + 2)
              if (len < 2) done = true
              else {
                val isFrame = m >= 0xC0 && m <= 0xCF && m != 0xC4 &&
                  m != 0xC8 && m != 0xCC
                if (isFrame) {
                  if (m != 0xC0 && m != 0xC2) res = true
                  else {
                    val ds = off + 4
                    // >2× sampling is a profile gap; 8- and 12-bit
                    // baseline DECODE now (other precisions don't);
                    // 4-comp (Adobe CMYK/YCCK) and 12-bit each stay a
                    // gap in progressive, and the two don't combine.
                    // A frame TRUNCATED at the SOF payload proves
                    // nothing about the profile — leave res alone
                    // there, so damage classifies as corrupt
                    if (ds < b.length) {
                      val pr = u8(b, ds)
                      if (pr != 8 && pr != 12) res = true
                      if (pr == 12 && m == 0xC2) res = true
                      val nc = if (ds + 5 < b.length) u8(b, ds + 5) else 0
                      if (nc == 4 && (m == 0xC2 || pr == 12)) res = true
                      for (c <- 0 until math.min(nc, 4)
                           if ds + 6 + 3 * c + 1 < b.length) {
                        val hv = u8(b, ds + 6 + 3 * c + 1)
                        if ((hv >> 4) > 2 || (hv & 15) > 2) res = true
                      }
                    }
                  }
                  done = true
                } else if (m == 0xDA || m == 0xD9) done = true
                else off += 2 + len
              }
            }
          }
        }
        res
      case "tiff" =>
        val tags = tiffTags(b)
        if (tags == null) false
        else {
          def one(tag: Int, default: Long): Long =
            tags.get(tag).map(_.head).getOrElse(default)
          val comp = one(259, 1)
          val spp = one(277, 1)
          val bits = tags.getOrElse(258, Array.fill(spp.toInt max 1)(8L))
          val photo = one(262, if (spp == 3L) 2L else 1L)
          (comp != 1L && comp != 5L && comp != 8L && comp != 32946L &&
            comp != 32773L) ||
            one(317, 1) > 2 || (spp != 1L && spp != 3L) ||
            bits.exists(_ != 8L) || one(284, 1) != 1 ||
            // WhiteIsZero (0), BlackIsZero (1) and palette (3) gray
            // DECODE now, like tiled layouts; remaining photometrics
            // (separations, YCbCr, Lab) are intact files outside the
            // profile, not damage
            (if (spp == 3L) photo != 2L
             else photo != 0L && photo != 1L && photo != 3L)
        }
      case "bmp" =>
        b.length >= 34 && {
          val bpp = leU16(b, 28)
          (bpp != 24 && bpp != 8 && bpp != 4) || leU32(b, 30) != 0L
        }
      case "gif" =>
        // every spec-valid GIF now decodes — partial frames,
        // animations, transparency and disposal all COMPOSE via
        // [[gifAnimate]] — so an undecodable GIF is corruption, never
        // a profile gap (same terminal state the PNG branch reached)
        false
      case _ => false
    }
  } catch { case _: IndexOutOfBoundsException => false }

  /** Valid STEREO MS-ADPCM WAV: the 14-byte field-major block header
    * (coefficient indices L,R; deltas L,R; sample1s L,R; sample2s
    * L,R) then data bytes whose HIGH nibble is a left sample and LOW
    * nibble the right. Each block is
    * `(ciL, ciR, deltaL, deltaR, s1L, s1R, s2L, s2R, nibL, nibR)`
    * with equal per-channel nibble counts.
    */
  def synthWavMsAdpcmStereo(sampleRate: Int,
      blocks: Seq[(Int, Int, Int, Int, Int, Int, Int, Int,
        Array[Int], Array[Int])]): Array[Byte] = {
    require(blocks.nonEmpty, "at least one block")
    val nNib = blocks.head._9.length
    require(nNib > 0, "at least one nibble pair")
    require(blocks.forall(bk => bk._9.length == nNib && bk._10.length == nNib),
      "uniform block size across blocks and channels")
    require(blocks.forall { case (cl, cr, dl, dr, a, bb, c, d, nl, nr) =>
      Seq(cl, cr).forall(x => x >= 0 && x <= 6) &&
        Seq(dl, dr, a, bb, c, d).forall(x => x >= -32768 && x <= 32767) &&
        (nl ++ nr).forall(n => n >= 0 && n <= 15)
    }, "coef 0..6, delta/samples s16, nibbles 0..15")
    val blockAlign = 14 + nNib
    val dataLen = blocks.length * blockAlign
    val out = java.nio.ByteBuffer.allocate(12 + 8 + 50 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(4 + 58 + 8 + dataLen).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(50)
      .putShort(2)                          // MS-ADPCM
      .putShort(2)                          // stereo
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign / (nNib + 2)) // approx byte rate
      .putShort(blockAlign.toShort)
      .putShort(4)                          // bits per (coded) sample
      .putShort(32)                         // cbSize
      .putShort((nNib + 2).toShort)         // wSamplesPerBlock (per channel)
      .putShort(7)                          // wNumCoef
    for (i <- 0 until 7)
      out.putShort(MsCoef1(i).toShort).putShort(MsCoef2(i).toShort)
    out.put("data".getBytes).putInt(dataLen)
    for ((cl, cr, dl, dr, s1l, s1r, s2l, s2r, nl, nr) <- blocks) {
      out.put(cl.toByte).put(cr.toByte)
        .putShort(dl.toShort).putShort(dr.toShort)
        .putShort(s1l.toShort).putShort(s1r.toShort)
        .putShort(s2l.toShort).putShort(s2r.toShort)
      var j = 0
      while (j < nNib) {
        out.put(((nl(j) << 4) | nr(j)).toByte) // high = left, low = right
        j += 1
      }
    }
    out.array()
  }

  /** Whether a RECOGNIZED RIFF/WAVE file that [[wavSamples]] refused
    * did so because its fmt chunk names a codec/depth outside the
    * supported set (ADPCM, MP3-in-WAV, GSM, exotic PCM depths, a
    * vendor SubFormat GUID) — a feature gap to ship — as opposed to
    * structural damage (no fmt chunk, truncated extensible header,
    * missing data chunk), which is ingest loss. The audio counterpart
    * of [[unsupportedImageProfile]], driving the same `decode_err`
    * split.
    */
  def unsupportedAudioProfile(b: Array[Byte]): Boolean = try {
    if (!(b.length >= 12 && ascii(b, 0, 4) == "RIFF" && ascii(b, 8, 4) == "WAVE"))
      return false
    val fi = findWavFmt(b)
    if (fi < 0) return false                 // no fmt chunk = corrupt
    val bits = leU16(b, fi + 22)
    val channels = leU16(b, fi + 10)
    wavFormatCode(b, fi) match {
      case -1 => false // extensible fmt too short for its GUID = corrupt
      case -2 => true  // vendor SubFormat GUID = a nameable codec gap
      case code => (code, bits) match { // the set wavSamples dispatches on
        case (1, 8) | (1, 16) | (1, 24) | (1, 32) | (3, 32) |
             (7, 8) | (6, 8) => false
        case (17, 4) => channels != 1 && channels != 2 // IMA decodes
        case (2, 4)  => channels != 1 && channels != 2 // MS-ADPCM decodes
        case _ => true
      }
    }
  } catch { case _: IndexOutOfBoundsException => false }

  /** Whether a checksum-valid tar stream carries a member type the
    * shard reader can't expand — ONLY the multivolume continuation
    * (`M`) now: a single shard genuinely can't reassemble a member
    * split across volumes. Old-GNU sparse (`S`) EXPANDS through
    * [[tarEntryBytes]], dumpdirs (`D`) parse via [[tarDumpdirs]], and
    * volume labels (`V`) are skipped metadata, so none of those
    * report. Walks headers with the
    * same validated advance as [[tarEntries]] and stops at the first
    * hit; damaged headers return false (= corrupt, not a profile
    * gap).
    */
  def unsupportedTarProfile(b: Array[Byte]): Boolean = try {
    var off = 0L
    while (off + 512 <= b.length) {
      val i = off.toInt
      var allZero = true
      var k = 0
      while (allZero && k < 512) { if (b(i + k) != 0) allZero = false; k += 1 }
      if (allZero) return false // end-of-archive
      if (!tarChecksumOk(b, i)) return false // damaged header = corrupt
      b(i + 156).toChar match {
        // a LONE shard can't reassemble a member split across
        // volumes — the named profile for single-shard reads; the
        // SET-level [[tarMultivolume]] walk closes it when all
        // volumes are present. Dumpdirs ('D') parse via
        // [[tarDumpdirs]] and volume labels ('V') are skipped
        // metadata now.
        case 'M' => return true
        case 'S' =>
          // skip the sparse-map continuation blocks before the data
          var extBlocks = 0
          var more = b(i + 482) != 0
          while (more) {
            val cb = i + 512 + extBlocks * 512
            if (cb + 512 > b.length) return false
            more = b(cb + 504) != 0
            extBlocks += 1
          }
          off += extBlocks.toLong * 512
        case _ => ()
      }
      val size = tarOctal(b, i + 124, 12)
      if (size < 0) return false
      off += 512 + ((size + 511) / 512) * 512
    }
    false
  } catch { case _: IndexOutOfBoundsException => false }

  /** Sample table of a FRAGMENTED ISO-BMFF stream (DASH/CMAF/
    * streaming capture): walk every top-level `moof`, inside it each
    * `traf`'s `tfhd` (base-data-offset, default sample size/flags —
    * flag-conditional fields in spec order) and `trun` runs
    * (explicit signed data offset REQUIRED — every real segmenter
    * writes it; per-sample duration/size/flags/cto fields consumed in
    * spec order). The base offset defaults to the moof start (the
    * default-base-is-moof convention and the first-traf default
    * coincide there); sync comes from per-sample flags, then
    * first-sample-flags, then the tfhd default — bit 16 is
    * `sample_is_non_sync_sample`. Sample indices are global across
    * fragments. Empty array on truncation, missing sizes, or ranges
    * escaping the file — same degrade contract as the stbl walk.
    */
  private def mp4FragmentSamples(b: Array[Byte]): Array[Mp4Sample] = try {
    val out = scala.collection.mutable.ArrayBuffer.empty[Mp4Sample]
    var sampleIdx = 0
    for (("moof", moofStart0, ms, me) <- mp4Boxes(b, 0, b.length)) {
      // the box start (which default-base-is-moof offsets are relative
      // to) comes from mp4Boxes itself — it knows whether the header
      // was compact (8) or largesize (16), so no byte-sniffing that a
      // crafted preceding box could spoof into an 8-byte offset shift.
      val moofStart = moofStart0.toLong
      for (("traf", _, ts, te) <- mp4Boxes(b, ms, me)) {
        var baseOff = moofStart // default-base-is-moof / first-traf default
        var defSize = -1L
        var defFlags = -1L
        for ((tpe, _, ps, pe) <- mp4Boxes(b, ts, te)) tpe match {
          case "tfhd" if pe - ps >= 8 =>
            val flags = beU32(b, ps) & 0xFFFFFF
            var q = ps + 8 // verflags + track_ID
            if ((flags & 1) != 0) {
              if (q + 8 > pe) return Array.empty
              baseOff = beU64At(b, q); q += 8
            }
            if ((flags & 2) != 0) q += 4    // sample_description_index
            if ((flags & 8) != 0) q += 4    // default_sample_duration
            if ((flags & 0x10) != 0) {
              if (q + 4 > pe) return Array.empty
              defSize = beU32(b, q); q += 4
            }
            if ((flags & 0x20) != 0) {
              if (q + 4 > pe) return Array.empty
              defFlags = beU32(b, q); q += 4
            }
          case "trun" if pe - ps >= 8 =>
            val flags = beU32(b, ps) & 0xFFFFFF
            val count = beU32(b, ps + 4)
            // bomb guard: a run can legitimately hold more samples
            // than its own box bytes (per-sample fields absent, sizes
            // from the tfhd default), but never more than the FILE
            // holds bytes — forged counts degrade instead of OOMing
            if (count > b.length) return Array.empty
            var q = ps + 8
            if ((flags & 1) == 0) return Array.empty // offset-less run
            if (q + 4 > pe) return Array.empty
            var off = baseOff + beS32FromU(beU32(b, q)); q += 4
            var firstFlags = -1L
            if ((flags & 4) != 0) {
              if (q + 4 > pe) return Array.empty
              firstFlags = beU32(b, q); q += 4
            }
            var k = 0
            while (k < count) {
              if ((flags & 0x100) != 0) q += 4 // duration
              val sz =
                if ((flags & 0x200) != 0) {
                  if (q + 4 > pe) return Array.empty
                  val v = beU32(b, q); q += 4; v
                } else if (defSize >= 0) defSize
                else return Array.empty
              val sFlags =
                if ((flags & 0x400) != 0) {
                  if (q + 4 > pe) return Array.empty
                  val v = beU32(b, q); q += 4; v
                } else if (k == 0 && firstFlags >= 0) firstFlags
                else if (defFlags >= 0) defFlags
                else 0L // nothing declared anywhere: all-sync default
              if ((flags & 0x800) != 0) q += 4 // composition offset
              if (q > pe) return Array.empty
              if (off < 0 || sz < 0 || off + sz > b.length)
                return Array.empty
              out += Mp4Sample(sampleIdx, (sFlags & 0x10000L) == 0L, off, sz)
              sampleIdx += 1
              off += sz
              k += 1
            }
          case _ => ()
        }
      }
    }
    out.toArray
  } catch { case _: IndexOutOfBoundsException => Array.empty }

  /** Reinterpret a u32 box field as the SIGNED 32-bit value trun's
    * data_offset is specified as.
    */
  private def beS32FromU(v: Long): Long = v.toInt.toLong

  /** MP4/ISO-BMFF: scan top-level boxes ([size:be32][type:4cc]; size 1 =
    * 64-bit largesize, size 0 = to-EOF), then moov → mvhd (version 0:
    * be32 timescale at +12, be32 duration at +16 of the box payload;
    * version 1: be32 timescale at +20, be64 duration at +24).
    * `durationMs = duration * 1000 / timescale`. Malformed boxes →
    * "unknown", never an exception (decode paths see arbitrary bytes).
    */
  private def parseMp4(b: Array[Byte]): MediaHeader = try {
    def beU64(i: Int): Long = (beU32(b, i) << 32) | beU32(b, i + 4)
    def boxes(lo: Int, hi: Int): Iterator[(String, Int, Int)] =
      new Iterator[(String, Int, Int)] { // (type, payloadStart, payloadEnd)
        private var p = lo
        def hasNext: Boolean = p + 8 <= hi
        def next(): (String, Int, Int) = {
          val size0 = beU32(b, p)
          val tpe = ascii(b, p + 4, 4)
          val (payload, end) =
            if (size0 == 1L)
              // truncated largesize header = corrupt: stop, don't walk
              // misaligned tail bytes as fake boxes
              if (p + 16 <= hi) (p + 16, p + beU64(p + 8)) else (p + 8, 0L)
            else if (size0 == 0L) (p + 8, hi.toLong)
            else (p + 8, p + size0)
          val e = math.min(end, hi.toLong).toInt
          if (e <= p) { p = hi; (tpe, p, p) } // corrupt size: stop
          else { p = e; (tpe, payload, e) }
        }
      }
    val top = boxes(0, b.length).toSeq
    val brand = top.collectFirst { case ("ftyp", s, e) if e - s >= 4 =>
      ascii(b, s, 4) }.getOrElse(return unknown)
    val dur = top.collectFirst { case ("moov", s, e) =>
      boxes(s, e).collectFirst { case ("mvhd", ms, me) =>
        // bounds BEFORE the version read: a payload-less mvhd degrades
        // to duration 0 like any other malformed mvhd, never to an
        // exception that loses the already-parsed brand
        if (me - ms < 20) 0L
        else u8(b, ms) match {
          case 0 =>
            val ts = beU32(b, ms + 12); val d = beU32(b, ms + 16)
            if (ts > 0) d * 1000L / ts else 0L
          case 1 if me - ms >= 32 =>
            val ts = beU32(b, ms + 20); val d = beU64(ms + 24)
            if (ts > 0) d * 1000L / ts else 0L
          case _ => 0L
        }
      }.getOrElse(0L)
    }.getOrElse(0L)
    MediaHeader("mp4/" + brand.trim, durationMs = dur)
  } catch { case _: IndexOutOfBoundsException => unknown }

  /** A video sample (frame) located inside an MP4: `sampleIdx` is the
    * 0-based position in the track's sample table, `sync` marks
    * keyframes (listed in `stss`), and [offset, offset+size) are the
    * absolute byte range of the sample payload in the file.
    */
  final case class Mp4Sample(sampleIdx: Int, sync: Boolean, offset: Long, size: Long)

  /** Read the first video track's sample table from an ISO-BMFF file:
    * moov → trak → mdia → minf → stbl, then
    *
    *  - `stsz` — per-sample byte sizes (or one uniform size),
    *  - `stco` / `co64` — 32- or 64-bit chunk byte offsets,
    *  - `stsc` — sample-to-chunk runs (`first_chunk`,
    *    `samples_per_chunk`), expanded so each sample's offset is its
    *    chunk offset plus the sizes of the samples packed before it —
    *    the multi-sample-per-chunk layout real muxers emit; an absent
    *    `stsc` falls back to one-sample-per-chunk (then #chunks must
    *    equal #samples),
    *  - `stss` — 1-based sync-sample (keyframe) numbers; an absent
    *    `stss` means every sample is sync, per the ISO spec.
    *
    * Malformed, truncated, or mutually inconsistent tables return an
    * empty array — the same degrade-don't-throw posture as every
    * other parser here.
    */
  /** Big-endian u64 at `i` — the ISO-BMFF largesize / co64 word. */
  private def beU64At(b: Array[Byte], i: Int): Long =
    (beU32(b, i) << 32) | beU32(b, i + 4)

  /** Child-box iterator over `[lo, hi)`: yields (type, boxStart,
    * payloadStart, payloadEnd) — the box start is what
    * default-base-is-moof offsets are relative to, and yielding it
    * here (the one place that KNOWS whether the header was 8 compact
    * bytes or 16 largesize bytes) beats every caller re-deriving it
    * from bytes before the payload. A size-0 box runs to `hi`, size 1
    * reads the 64-bit largesize (mandatory for >4 GiB mdats; payload
    * then starts at +16), malformed sizes (2..7, or a truncated
    * largesize) end the walk at the enclosing bound. Shared by the
    * stbl and moof walks.
    */
  private def mp4Boxes(b: Array[Byte], lo: Int, hi: Int): Iterator[(String, Int, Int, Int)] =
    new Iterator[(String, Int, Int, Int)] {
      private var p = lo
      def hasNext: Boolean = p + 8 <= hi
      def next(): (String, Int, Int, Int) = {
        val size0 = beU32(b, p)
        val tpe = ascii(b, p + 4, 4)
        val hdr = if (size0 == 1L) 16 else 8
        val end: Long =
          if (size0 == 0L) hi.toLong
          else if (size0 == 1L) {
            if (p + 16 > hi) -1L else p + beU64At(b, p + 8)
          }
          else if (size0 < 8L) -1L // sizes 2..7 are malformed
          else p + size0
        val e = if (end < 0) -1 else math.min(end, hi.toLong).toInt
        if (e < p + hdr) { val q = p; p = hi; (tpe, q, q + 8, q + 8) }
        else { val q = p; val payload = p + hdr; p = e; (tpe, q, payload, e) }
      }
    }

  def mp4Samples(b: Array[Byte]): Array[Mp4Sample] = {
    if (!(b.length >= 12 &&
        (ascii(b, 4, 4) == "ftyp" || ascii(b, 4, 4) == "styp")))
      return Array.empty
    val viaStbl = mp4StblSamples(b)
    if (viaStbl.nonEmpty) viaStbl
    // no stbl samples — INCLUDING the self-initializing DASH/CMAF
    // shape whose init segment carries a moov with EMPTY stsz/stco
    // tables before the moof fragments — so try the fragment walk
    else mp4FragmentSamples(b)
  }

  /** The moov→stbl half of [[mp4Samples]]: empty when the file has no
    * populated sample table (fragmented captures land here with their
    * empty init-segment tables).
    */
  private def mp4StblSamples(b: Array[Byte]): Array[Mp4Sample] = try {
    def boxes(lo: Int, hi: Int) = mp4Boxes(b, lo, hi)
    val stbl = (for {
      ("moov", _, ms, me) <- boxes(0, b.length)
      ("trak", _, ts, te) <- boxes(ms, me)
      ("mdia", _, ds, de) <- boxes(ts, te)
      ("minf", _, fs, fe) <- boxes(ds, de)
      ("stbl", _, ss, se) <- boxes(fs, fe)
    } yield (ss, se)).nextOption()
      .getOrElse(return Array.empty)
    val (ss, se) = stbl
    var sizes: Array[Long] = null
    var offsets: Array[Long] = null
    var stsc: Array[(Long, Long)] = null // (first_chunk, samples_per_chunk)
    var sync: Array[Int] = null // 1-based sample numbers; null = all sync
    for ((tpe, _, ps, pe) <- boxes(ss, se)) tpe match {
      case "stsz" if pe - ps >= 12 =>
        val uniform = beU32(b, ps + 4)
        val n = beU32(b, ps + 8).toInt
        sizes =
          if (uniform != 0L) Array.fill(n)(uniform)
          else if (pe - ps >= 12 + 4 * n)
            Array.tabulate(n)(i => beU32(b, ps + 12 + 4 * i))
          else return Array.empty
      case "stco" if pe - ps >= 8 =>
        val n = beU32(b, ps + 4).toInt
        if (pe - ps < 8 + 4 * n) return Array.empty
        offsets = Array.tabulate(n)(i => beU32(b, ps + 8 + 4 * i))
      case "co64" if pe - ps >= 8 =>
        val n = beU32(b, ps + 4).toInt
        if (pe - ps < 8 + 8 * n) return Array.empty
        offsets = Array.tabulate(n)(i => beU64At(b, ps + 8 + 8 * i))
      case "stsc" if pe - ps >= 8 =>
        val n = beU32(b, ps + 4).toInt
        if (pe - ps < 8 + 12 * n) return Array.empty
        stsc = Array.tabulate(n)(i =>
          (beU32(b, ps + 8 + 12 * i), beU32(b, ps + 8 + 12 * i + 4)))
      case "stss" if pe - ps >= 8 =>
        val n = beU32(b, ps + 4).toInt
        if (pe - ps < 8 + 4 * n) return Array.empty
        sync = Array.tabulate(n)(i => beU32(b, ps + 8 + 4 * i).toInt)
      case _ => ()
    }
    if (sizes == null || offsets == null) return Array.empty
    val n = sizes.length
    val sampleOff = new Array[Long](n)
    if (stsc == null) {
      // legacy fallback: one sample per chunk, tables must agree
      if (offsets.length != n) return Array.empty
      System.arraycopy(offsets, 0, sampleOff, 0, n)
    } else {
      // expand the runs: chunk c (1-based) holds spc(c) samples laid
      // back-to-back from its chunk offset
      if (stsc.isEmpty || stsc.head._1 != 1L) return Array.empty
      var s = 0
      var run = 0
      var chunk = 1
      while (chunk <= offsets.length && s < n) {
        while (run + 1 < stsc.length && stsc(run + 1)._1 <= chunk) run += 1
        val spc = stsc(run)._2
        if (spc <= 0 || spc > n) return Array.empty
        var off = offsets(chunk - 1)
        var k = 0L
        while (k < spc && s < n) {
          sampleOff(s) = off
          off += sizes(s)
          s += 1; k += 1
        }
        chunk += 1
      }
      if (s != n) return Array.empty // tables disagree on sample count
    }
    // every sample's byte range must lie inside the file: callers
    // (keyframe fingerprints, frame sampling) index the array raw, so
    // a forged co64/stsz value must degrade HERE, not kill the task
    var i = 0
    while (i < n) {
      if (sampleOff(i) < 0 || sizes(i) < 0 ||
        sampleOff(i) + sizes(i) > b.length) return Array.empty
      i += 1
    }
    val syncSet = if (sync == null) null else sync.toSet
    Array.tabulate(n) { i =>
      Mp4Sample(i, syncSet == null || syncSet.contains(i + 1), sampleOff(i),
        sizes(i))
    }
  } catch { case _: IndexOutOfBoundsException => Array.empty }

  /** Valid MP4 with a real sample table: ftyp + moov{mvhd, trak{mdia{
    * minf{stbl{stsz, stsc, stco, stss}}}}} + mdat holding `samples`
    * back-to-back, grouped `samplesPerChunk` to a chunk — `stco` has
    * one absolute offset per CHUNK and `stsc` carries the grouping
    * runs (a short final chunk gets its own run, as real muxers
    * emit). `syncSamples` are 1-based keyframe numbers. Write-side
    * proof that [[mp4Samples]] reads real ISO-BMFF layout including
    * the sample-to-chunk expansion.
    */
  def synthMp4Samples(brand: String, timescale: Int, duration: Long,
      samples: Array[Array[Byte]], syncSamples: Seq[Int],
      samplesPerChunk: Int = 1): Array[Byte] = {
    require(brand.length == 4, s"brand must be 4 chars: '$brand'")
    require(samplesPerChunk >= 1, s"samplesPerChunk >= 1: $samplesPerChunk")
    val n = samples.length
    val spc = samplesPerChunk
    val nChunks = (n + spc - 1) / spc
    val lastCount = if (n == 0) 0 else n - (nChunks - 1) * spc
    val stscRuns: Seq[(Int, Int)] =
      if (nChunks <= 1) Seq(1 -> (if (n == 0) spc else n))
      else if (lastCount == spc) Seq(1 -> spc)
      else Seq(1 -> spc, nChunks -> lastCount)
    val mvhdSize = 8 + 20
    val stszSize = 8 + 12 + 4 * n
    val stscSize = 8 + 8 + 12 * stscRuns.length
    val stcoSize = 8 + 8 + 4 * nChunks
    val stssSize = 8 + 8 + 4 * syncSamples.length
    val stblSize = 8 + stszSize + stscSize + stcoSize + stssSize
    val minfSize = 8 + stblSize
    val mdiaSize = 8 + minfSize
    val trakSize = 8 + mdiaSize
    val moovSize = 8 + mvhdSize + trakSize
    val ftypSize = 16
    val mdatPayload = samples.map(_.length).sum
    val mdatStart = ftypSize + moovSize
    val out = java.nio.ByteBuffer.allocate(mdatStart + 8 + mdatPayload)
    out.putInt(ftypSize).put("ftyp".getBytes).put(brand.getBytes).putInt(0x200)
    out.putInt(moovSize).put("moov".getBytes)
    out.putInt(mvhdSize).put("mvhd".getBytes)
      .putInt(0).putInt(0).putInt(0)
      .putInt(timescale).putInt(duration.toInt)
    out.putInt(trakSize).put("trak".getBytes)
    out.putInt(mdiaSize).put("mdia".getBytes)
    out.putInt(minfSize).put("minf".getBytes)
    out.putInt(stblSize).put("stbl".getBytes)
    out.putInt(stszSize).put("stsz".getBytes).putInt(0).putInt(0).putInt(n)
    samples.foreach(s => out.putInt(s.length))
    out.putInt(stscSize).put("stsc".getBytes).putInt(0).putInt(stscRuns.length)
    stscRuns.foreach { case (first, count) =>
      out.putInt(first).putInt(count).putInt(1) // sample description 1
    }
    out.putInt(stcoSize).put("stco".getBytes).putInt(0).putInt(nChunks)
    var off = mdatStart + 8
    var s = 0
    for (_ <- 0 until nChunks) {
      out.putInt(off)
      var k = 0
      while (k < spc && s < n) { off += samples(s).length; s += 1; k += 1 }
    }
    out.putInt(stssSize).put("stss".getBytes).putInt(0).putInt(syncSamples.length)
    syncSamples.foreach(out.putInt)
    out.putInt(8 + mdatPayload).put("mdat".getBytes)
    samples.foreach(out.put)
    out.array()
  }

  /** Minimal valid MP4: ftyp(brand) + moov(mvhd v0 with the given
    * timescale/duration) + a free-space payload box.
    */
  def synthMp4(brand: String, timescale: Int, duration: Long,
      payload: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    require(brand.length == 4, s"brand must be 4 chars: '$brand'")
    require(duration >= 0 && duration <= 0xFFFFFFFFL,
      s"v0 mvhd duration is u32; got $duration")
    val mvhdSize = 8 + 20  // header + v0 fields through duration
    val moovSize = 8 + mvhdSize
    val out = java.nio.ByteBuffer
      .allocate(16 + moovSize + 8 + payload.length)   // big-endian default
    out.putInt(16).put("ftyp".getBytes).put(brand.getBytes).putInt(0x200)
    out.putInt(moovSize).put("moov".getBytes)
    out.putInt(mvhdSize).put("mvhd".getBytes)
      .putInt(0)                       // version 0 + flags
      .putInt(0).putInt(0)             // ctime, mtime
      .putInt(timescale).putInt(duration.toInt)
    out.putInt(8 + payload.length).put("free".getBytes).put(payload)
    out.array()
  }
  /** Valid fragmented ISO-BMFF (CMAF/DASH media-segment shape) — the
    * exact write-side counterpart of [[mp4FragmentSamples]]: an
    * `ftyp` (or, with `styp = true`, the ftyp-less `styp` shape real
    * media segments ship in) then per fragment
    * `moof{mfhd, traf{tfhd, trun}} mdat`. The tfhd carries
    * default-base-is-moof and a non-sync default-sample-flags; the
    * trun carries an explicit data offset pointing at its own mdat
    * payload, first-sample-flags = 0 (sync — the
    * keyframe-per-fragment convention), and per-sample sizes. mdat
    * payload byte `j` of fragment `f` is `(f*31 + j*7) % 256`.
    */
  def synthMp4Fragmented(brand: String, fragments: Seq[Seq[Int]],
      styp: Boolean = false): Array[Byte] = {
    require(brand.length == 4, s"brand must be 4 chars: '$brand'")
    require(fragments.nonEmpty &&
      fragments.forall(f => f.nonEmpty && f.forall(_ > 0)),
      "every fragment needs at least one positive-size sample")
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Unit = {
      out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    be32(16); tag(if (styp) "styp" else "ftyp"); tag(brand); be32(0)
    for ((szs, f) <- fragments.zipWithIndex) {
      val ns = szs.length
      val trunSize = 24 + 4 * ns
      val trafSize = 8 + 20 + trunSize
      val moofSize = 8 + 16 + trafSize
      val payload = szs.sum
      be32(moofSize); tag("moof")
      be32(16); tag("mfhd"); be32(0); be32(f + 1)        // sequence number
      be32(trafSize); tag("traf")
      be32(20); tag("tfhd"); be32(0x020020)              // base-is-moof | def-flags
      be32(1)                                            // track_ID
      be32(0x10000)                                      // default: non-sync
      be32(trunSize); tag("trun"); be32(0x000205)        // doff|first|sizes
      be32(ns); be32(moofSize + 8)                       // into our mdat
      be32(0)                                            // first sample: sync
      szs.foreach(s => be32(s))
      be32(8 + payload); tag("mdat")
      var j = 0
      while (j < payload) { out.write((f * 31 + j * 7) % 256); j += 1 }
    }
    out.toByteArray
  }
}
