package graft.operators

import scala.collection.mutable.ArrayBuffer

/** From-scratch WebP container probe + FULL VP8L (lossless) decoder.
  *
  * WebP is now among the most common image formats in real crawls;
  * until this file the probe couldn't even NAME it, so WebP blobs
  * classified as `unknown_container` (reference scope note: the ETL
  * core `etl.go:12-68` has no media surface at all — this layer is
  * extension frontier). The lossless half of the format is pure
  * algorithm — canonical prefix codes described by code-length codes
  * (DEFLATE-style), LZ77 over PIXELS with a 2-D distance
  * neighborhood, an ARGB color cache, and four invertible spatial
  * transforms — so it is implemented here directly from the public
  * "WebP Lossless Bitstream Specification", like the PNG inflate and
  * GIF LZW before it. Lossy VP8 frames are a NAMED profile gap (the
  * probe reports dimensions and `unsupported_profile`; a DCT video
  * intra-frame codec is out of scope), never a wrong answer.
  *
  * Decode posture matches [[Containers]]: degrade-don't-throw (null
  * on corruption), pixel-bomb capped, scalar per-blob routine safe
  * for `mapPartitions` ingest at scale.
  */
object Webp {

  private final class Err(msg: String)
    extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Err(msg)

  private val MaxPixels = 1 << 24 // 16M px = 48 MB RGB; forged headers degrade

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def leU32(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16)).toLong |
      (u8(b, i + 3).toLong << 24)
  private def fourCC(b: Array[Byte], i: Int): String =
    new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  def isWebp(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 && fourCC(b, 0) == "RIFF" &&
      fourCC(b, 8) == "WEBP"

  /** `(profile, width, height)`: profile is `vp8l` (lossless —
    * decodable), `vp8` (lossy — named gap), `vp8x-anim` (animation),
    * `vp8x` (extended wrapper whose image chunk is absent/opaque), or
    * null if this isn't a structurally sound WebP.
    */
  def probe(b: Array[Byte]): (String, Int, Int) = try {
    if (!isWebp(b)) return null
    var p = 12
    var vp8x: (Int, Int) = null
    var anim = false
    while (p + 8 <= b.length) {
      val cc = fourCC(b, p)
      val sz = leU32(b, p + 4)
      val payload = p + 8
      if (payload + sz > b.length) return null
      cc match {
        case "VP8L" =>
          if (sz < 5 || u8(b, payload) != 0x2F) return null
          val bits = new Bits(b, payload + 1, payload + math.min(sz, 6L).toInt)
          val w = bits.read(14) + 1
          val h = bits.read(14) + 1
          return ("vp8l", w, h)
        case "VP8 " =>
          // keyframe: 3-byte frame tag, then 9d 01 2a, then 14-bit dims
          if (sz < 10) return null
          if (u8(b, payload + 3) == 0x9D && u8(b, payload + 4) == 0x01 &&
              u8(b, payload + 5) == 0x2A) {
            val w = (u8(b, payload + 6) | (u8(b, payload + 7) << 8)) & 0x3FFF
            val h = (u8(b, payload + 8) | (u8(b, payload + 9) << 8)) & 0x3FFF
            return ("vp8", w, h)
          }
          return null
        case "VP8X" =>
          if (sz < 10) return null
          anim = anim || (u8(b, payload) & 2) != 0
          val w = (u8(b, payload + 4) | (u8(b, payload + 5) << 8) |
            (u8(b, payload + 6) << 16)) + 1
          val h = (u8(b, payload + 7) | (u8(b, payload + 8) << 8) |
            (u8(b, payload + 9) << 16)) + 1
          vp8x = (w, h)
        case _ => () // ALPH/ANIM/ANMF/EXIF/… — skip
      }
      p = payload + sz.toInt + (sz.toInt & 1) // chunks are 2-byte aligned
    }
    if (vp8x != null) (if (anim) "vp8x-anim" else "vp8x", vp8x._1, vp8x._2)
    else null
  } catch { case _: ArrayIndexOutOfBoundsException => null }

  /** Decode a lossless WebP to logical top-down 3-bytes-per-pixel
    * R,G,B rows (alpha dropped — the [[Multimodal.imagePixelBytes]]
    * convention). Null for lossy/animated/extended profiles and for
    * corruption.
    */
  def pixelBytes(b: Array[Byte]): Array[Byte] = try {
    if (!isWebp(b)) return null
    var p = 12
    while (p + 8 <= b.length) {
      val cc = fourCC(b, p)
      val sz = leU32(b, p + 4)
      val payload = p + 8
      if (payload + sz > b.length) return null
      if (cc == "VP8L") return decodeVp8l(b, payload, (payload + sz).toInt)
      p = payload + sz.toInt + (sz.toInt & 1)
    }
    null
  } catch {
    case _: Err => null
    case _: ArrayIndexOutOfBoundsException => null
    case _: NegativeArraySizeException => null
  }

  // ---- LSB-first forward bit reader ---------------------------------

  private final class Bits(b: Array[Byte], start: Int, endExcl: Int) {
    private val limit = (endExcl - start).toLong * 8
    var bitPos: Long = 0
    def read(n: Int): Int = {
      if (bitPos + n > limit) fail("bitstream exhausted")
      var r = 0
      var i = 0
      while (i < n) {
        val bi = bitPos + i
        r |= ((b(start + (bi >> 3).toInt) >> (bi & 7).toInt) & 1) << i
        i += 1
      }
      bitPos += n
      r
    }
    def readBit(): Int = read(1)
  }

  // ---- canonical prefix codes (DEFLATE convention) ------------------

  /** Canonical Huffman decoder: codes assigned shortest-first in
    * symbol order, read MSB-first bit by bit. `single >= 0` is the
    * zero-bit one-symbol degenerate form both the "simple" shape and
    * a one-length normal description produce.
    */
  private final class HCode(val single: Int, lenCount: Array[Int],
      sortedSyms: Array[Int], pair: (Int, Int) = null) {
    // firstCode(l) = canonical code value of the first symbol of length l;
    // offset(l) = index into sortedSyms where length-l symbols start
    private val firstCode = new Array[Int](16)
    private val offset = new Array[Int](16)
    if (single < 0 && pair == null) {
      var code = 0
      var off = 0
      var l = 1
      while (l <= 15) {
        firstCode(l) = code
        offset(l) = off
        code = (code + lenCount(l)) << 1
        off += lenCount(l)
        l += 1
      }
    }
    def read(br: Bits): Int = {
      if (single >= 0) return single
      // explicit 2-symbol simple code: the FIRST-listed symbol takes
      // code 0 (the reference assigns codes by listing order here,
      // NOT canonically by symbol value)
      if (pair != null) return if (br.readBit() == 0) pair._1 else pair._2
      var code = 0
      var l = 0
      while (l < 15) {
        code = (code << 1) | br.readBit()
        l += 1
        val idx = code - firstCode(l)
        if (idx >= 0 && idx < lenCount(l)) return sortedSyms(offset(l) + idx)
      }
      fail("invalid prefix code")
    }
  }

  /** Build from per-symbol code lengths (0 = absent). Enforces kraft
    * completeness except the one-symbol degenerate case.
    */
  private def buildHuffman(lengths: Array[Int]): HCode = {
    val lenCount = new Array[Int](16)
    var nonZero = 0
    var lastSym = -1
    var s = 0
    while (s < lengths.length) {
      val l = lengths(s)
      if (l < 0 || l > 15) fail("code length out of range")
      if (l > 0) { lenCount(l) += 1; nonZero += 1; lastSym = s }
      s += 1
    }
    if (nonZero == 0) fail("empty prefix code")
    if (nonZero == 1) return new HCode(lastSym, null, null)
    var kraft = 0L
    var l = 1
    while (l <= 15) { kraft += lenCount(l).toLong << (15 - l); l += 1 }
    if (kraft != (1L << 15)) fail("prefix code not complete")
    val sorted = new Array[Int](nonZero)
    val next = new Array[Int](16)
    var off = 0
    l = 1
    while (l <= 15) { next(l) = off; off += lenCount(l); l += 1 }
    s = 0
    while (s < lengths.length) {
      if (lengths(s) > 0) { sorted(next(lengths(s))) = s; next(lengths(s)) += 1 }
      s += 1
    }
    new HCode(-1, lenCount, sorted)
  }

  // code-length-code symbol order (same 19-slot permutation as the spec)
  private val ClOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** Read one prefix code description (simple or normal). */
  private def readCode(br: Bits, alphabetSize: Int): HCode = {
    if (br.readBit() == 1) { // simple: 1 or 2 symbols
      val numSyms = br.readBit() + 1
      val first8 = br.readBit()
      val s0 = if (first8 == 1) br.read(8) else br.readBit()
      if (s0 >= alphabetSize) fail("simple symbol out of alphabet")
      if (numSyms == 1) new HCode(s0, null, null)
      else {
        val s1 = br.read(8)
        if (s1 >= alphabetSize || s1 == s0) fail("bad simple pair")
        new HCode(-1, null, null, (s0, s1))
      }
    } else {
      val numCl = br.read(4) + 4
      if (numCl > 19) fail("too many code-length codes")
      val clLengths = new Array[Int](19)
      var i = 0
      while (i < numCl) { clLengths(ClOrder(i)) = br.read(3); i += 1 }
      val clCode = buildHuffman(clLengths)
      // optional cap on the number of coded symbols
      var maxSymbol =
        if (br.readBit() == 1) {
          val nbits = 2 + 2 * br.read(3)
          2 + br.read(nbits)
        } else alphabetSize
      val lengths = new Array[Int](alphabetSize)
      var sym = 0
      var prev = 8 // spec default for repeat-previous before any literal
      while (sym < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clCode.read(br)
        if (cl < 16) {
          lengths(sym) = cl
          sym += 1
          if (cl != 0) prev = cl
        } else {
          val (repeat, value) = cl match {
            case 16 => (3 + br.read(2), prev)
            case 17 => (3 + br.read(3), 0)
            case _ => (11 + br.read(7), 0)
          }
          if (sym + repeat > alphabetSize) fail("length repeat overruns")
          var k = 0
          while (k < repeat) { lengths(sym) = value; sym += 1; k += 1 }
        }
      }
      buildHuffman(lengths)
    }
  }

  // ---- LZ77 helpers --------------------------------------------------

  /** Length/distance prefix: code < 4 → code+1; else a DEFLATE-style
    * (base, extra-bits) ladder.
    */
  private def prefixValue(code: Int, br: Bits): Int = {
    if (code < 4) return code + 1
    val extra = (code - 2) >> 1
    if (extra > 24) fail("prefix extra too large")
    val offset = (2 + (code & 1)) << extra
    offset + br.read(extra) + 1
  }

  /** The 120-entry 2-D distance neighborhood: the window is
    * dx ∈ [−7, 8], dy ∈ [0, 7] (dy = 0 only with dx > 0 — exactly
    * 120 cells), ordered closest-first by squared distance, then |dx|
    * ascending, then +dx before −dx. Derived empirically: 120 probe
    * frames (one per plane code, [[synthPlaneProbe]]) decoded by real
    * libwebp reproduce this list entry for entry, and the WebpSpec
    * fixtures pin it against real encoder output.
    */
  private val DistMap: Array[(Int, Int)] = {
    val cand = for { y <- 0 to 7; x <- -7 to 8; if y > 0 || x > 0 } yield (x, y)
    cand.sortBy { case (x, y) => (x * x + y * y, math.abs(x), -x) }.toArray
  }

  private def planeCodeToDistance(code: Int, width: Int): Int =
    if (code > 120) code - 120
    else {
      val (dx, dy) = DistMap(code - 1)
      math.max(1, dy * width + dx)
    }

  // ---- entropy-coded image decode -----------------------------------

  /** One Huffman group: green+length+cache, red, blue, alpha, distance. */
  private final class Group(val green: HCode, val red: HCode,
      val blue: HCode, val alpha: HCode, val dist: HCode)

  private def readGroup(br: Bits, cacheSize: Int): Group = new Group(
    readCode(br, 256 + 24 + cacheSize),
    readCode(br, 256), readCode(br, 256), readCode(br, 256),
    readCode(br, 40))

  /** Decode one entropy-coded ARGB image (spatially-coded = the main
    * image, which may carry transforms read by the CALLER; entropy
    * images pass `allowMeta = false`). Returns row-major ARGB ints.
    */
  private def decodeImage(br: Bits, w: Int, h: Int, allowMeta: Boolean): Array[Int] = {
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) fail("pixel bomb")
    // color cache
    val cacheBits = if (br.readBit() == 1) br.read(4) else 0
    if (cacheBits > 11) fail("cache bits out of range")
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    // meta-prefix image (main image only)
    var metaBits = 0
    var meta: Array[Int] = null
    var metaW = 0
    if (allowMeta && br.readBit() == 1) {
      metaBits = br.read(3) + 2
      metaW = (w + (1 << metaBits) - 1) >> metaBits
      val metaH = (h + (1 << metaBits) - 1) >> metaBits
      meta = decodeImage(br, metaW, metaH, allowMeta = false)
    }
    val numGroups =
      if (meta == null) 1
      else {
        var mx = 0
        var i = 0
        while (i < meta.length) {
          val v = (meta(i) >> 8) & 0xFFFF
          if (v > mx) mx = v
          i += 1
        }
        mx + 1
      }
    // the group index is a 16-bit red<<8|green value, so 65536 is the
    // FORMAT's bound (libwebp imposes no tighter cap — high-effort
    // encodes of large photos legitimately keep thousands of
    // histogram clusters); allocation stays input-bounded because
    // every readGroup consumes bits and the reader fails on
    // exhaustion, so a tiny forged header can't trigger 65536 reads
    if (numGroups > 65536) fail("meta group count exceeds format bound")
    val groups = Array.fill(numGroups)(readGroup(br, cacheSize))
    val out = new Array[Int](w * h)
    var pos = 0
    val total = w * h
    def insertCache(argb: Int): Unit =
      if (cache != null)
        cache((0x1E35A7BD * argb) >>> (32 - cacheBits)) = argb
    while (pos < total) {
      val g =
        if (meta == null) groups(0)
        else {
          val x = pos % w
          val y = pos / w
          val mi = (meta((y >> metaBits) * metaW + (x >> metaBits)) >> 8) & 0xFFFF
          groups(mi)
        }
      val s = g.green.read(br)
      if (s < 256) {
        val red = g.red.read(br)
        val blue = g.blue.read(br)
        val alpha = g.alpha.read(br)
        val argb = (alpha << 24) | (red << 16) | (s << 8) | blue
        out(pos) = argb
        insertCache(argb)
        pos += 1
      } else if (s < 256 + 24) {
        val length = prefixValue(s - 256, br)
        val distCode = prefixValue(g.dist.read(br), br)
        val dist = planeCodeToDistance(distCode, w)
        if (dist > pos || pos + length > total)
          fail(s"backref escapes image pos=$pos dist=$dist code=$distCode len=$length w=$w total=$total")
        var k = 0
        while (k < length) {
          val v = out(pos - dist)
          out(pos) = v
          insertCache(v)
          pos += 1
          k += 1
        }
      } else {
        val idx = s - 256 - 24
        if (cache == null || idx >= cacheSize) fail("cache miss")
        out(pos) = cache(idx)
        pos += 1
      }
    }
    out
  }

  // ---- transforms ----------------------------------------------------

  private final case class Transform(kind: Int, bits: Int, data: Array[Int],
      xsizeAtRead: Int)

  private def avg2(a: Int, b: Int): Int = {
    // per-channel (a+b)/2 without cross-channel carry
    (((a ^ b) & 0xFEFEFEFE) >>> 1) + (a & b)
  }

  private def addPixels(a: Int, b: Int): Int = {
    // per-channel mod-256 sum
    val alphaAndGreen = (a & 0xFF00FF00) >>> 8
    val redAndBlue = a & 0x00FF00FF
    val bg = (b & 0xFF00FF00) >>> 8
    val brb = b & 0x00FF00FF
    (((alphaAndGreen + bg) & 0x00FF00FF) << 8) | ((redAndBlue + brb) & 0x00FF00FF)
  }

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def select(t: Int, l: Int, tl: Int): Int = {
    def sub3(a: Int, b: Int, c: Int): Int =
      math.abs(b - c) - math.abs(a - c)
    val d =
      sub3((t >>> 24), (l >>> 24), (tl >>> 24)) +
      sub3((t >>> 16) & 0xFF, (l >>> 16) & 0xFF, (tl >>> 16) & 0xFF) +
      sub3((t >>> 8) & 0xFF, (l >>> 8) & 0xFF, (tl >>> 8) & 0xFF) +
      sub3(t & 0xFF, l & 0xFF, tl & 0xFF)
    if (d <= 0) t else l
  }

  private def clampAddSubtractFull(l: Int, t: Int, tl: Int): Int = {
    def ch(sh: Int): Int =
      clip255(((l >>> sh) & 0xFF) + ((t >>> sh) & 0xFF) - ((tl >>> sh) & 0xFF))
    (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
  }

  private def clampAddSubtractHalf(l: Int, t: Int, tl: Int): Int = {
    val ave = avg2(l, t)
    def ch(sh: Int): Int = {
      val a = (ave >>> sh) & 0xFF
      val b = (tl >>> sh) & 0xFF
      clip255(a + (a - b) / 2) // C truncating division, negatives included
    }
    (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
  }

  /** Inverse predictor transform — in-place over the ARGB plane. */
  private def inversePredictor(px: Array[Int], w: Int, h: Int, t: Transform): Unit = {
    val tileW = (w + (1 << t.bits) - 1) >> t.bits
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        val pred =
          if (x == 0 && y == 0) 0xFF000000
          else if (y == 0) px(i - 1) // left
          else if (x == 0) px(i - w) // top
          else {
            val mode = (t.data((y >> t.bits) * tileW + (x >> t.bits)) >> 8) & 0xF
            val l = px(i - 1)
            val top = px(i - w)
            val tl = px(i - w - 1)
            // top-right is the SCAN-ORDER neighbor px[i-w+1]: at the
            // last column that lands on the current row's first pixel
            // (already decoded) — the reference behavior
            val tr = px(i - w + 1)
            mode match {
              case 0 => 0xFF000000
              case 1 => l
              case 2 => top
              case 3 => tr
              case 4 => tl
              case 5 => avg2(avg2(l, tr), top)
              case 6 => avg2(l, tl)
              case 7 => avg2(l, top)
              case 8 => avg2(tl, top)
              case 9 => avg2(top, tr)
              case 10 => avg2(avg2(l, tl), avg2(top, tr))
              case 11 => select(top, l, tl)
              case 12 => clampAddSubtractFull(l, top, tl)
              case 13 => clampAddSubtractHalf(l, top, tl)
              case 14 => 0xFF000000 // spec-reserved; mirror libwebp's table
              case _ => l // 15 → left, as in the reference table
            }
          }
        px(i) = addPixels(px(i), pred)
        x += 1
      }
      y += 1
    }
  }

  /** Inverse cross-color transform. */
  private def inverseColor(px: Array[Int], w: Int, h: Int, t: Transform): Unit = {
    val tileW = (w + (1 << t.bits) - 1) >> t.bits
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        val cte = t.data((y >> t.bits) * tileW + (x >> t.bits))
        // element packing: green_to_red in the BLUE channel,
        // green_to_blue in GREEN, red_to_blue in RED (the reference's
        // ColorCodeToMultipliers layout)
        val g2r = cte & 0xFF
        val g2b = (cte >> 8) & 0xFF
        val r2b = (cte >> 16) & 0xFF
        val argb = px(i)
        val green = (argb >> 8) & 0xFF
        var red = (argb >> 16) & 0xFF
        var blue = argb & 0xFF
        red = (red + ((g2r.toByte * green.toByte) >> 5)) & 0xFF
        blue = (blue + ((g2b.toByte * green.toByte) >> 5)) & 0xFF
        blue = (blue + ((r2b.toByte * red.toByte) >> 5)) & 0xFF
        px(i) = (argb & 0xFF00FF00) | (red << 16) | blue
        x += 1
      }
      y += 1
    }
  }

  private def inverseSubtractGreen(px: Array[Int]): Unit = {
    var i = 0
    while (i < px.length) {
      val argb = px(i)
      val g = (argb >> 8) & 0xFF
      val r = (((argb >> 16) & 0xFF) + g) & 0xFF
      val b = ((argb & 0xFF) + g) & 0xFF
      px(i) = (argb & 0xFF00FF00) | (r << 16) | b
      i += 1
    }
  }

  /** Inverse color-indexing: unpack sub-byte indices (green channel)
    * and look up the palette. Returns the NEW (full-width) plane.
    */
  private def inverseColorIndexing(px: Array[Int], packedW: Int, h: Int,
      fullW: Int, t: Transform): Array[Int] = {
    val palette = t.data
    val widthBits =
      if (palette.length <= 2) 3
      else if (palette.length <= 4) 2
      else if (palette.length <= 16) 1
      else 0
    if (widthBits == 0) {
      var i = 0
      while (i < px.length) {
        val idx = (px(i) >> 8) & 0xFF
        if (idx >= palette.length) fail("palette index out of range")
        px(i) = palette(idx)
        i += 1
      }
      px
    } else {
      val bpp = 8 >> widthBits
      val perByte = 1 << widthBits
      val mask = (1 << bpp) - 1
      val out = new Array[Int](fullW * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < fullW) {
          val packed = (px(y * packedW + (x >> widthBits)) >> 8) & 0xFF
          val idx = (packed >> (bpp * (x & (perByte - 1)))) & mask
          if (idx >= palette.length) fail("palette index out of range")
          out(y * fullW + x) = palette(idx)
          x += 1
        }
        y += 1
      }
      out
    }
  }

  // ---- VP8L top level ------------------------------------------------

  private def decodeVp8l(b: Array[Byte], start: Int, endExcl: Int): Array[Byte] = {
    val (px, fullW, fullH) = decodeVp8lArgb(b, start, endExcl)
    // ARGB → packed RGB rows
    val out = new Array[Byte](fullW * fullH * 3)
    var i = 0
    while (i < px.length) {
      out(i * 3) = ((px(i) >> 16) & 0xFF).toByte
      out(i * 3 + 1) = ((px(i) >> 8) & 0xFF).toByte
      out(i * 3 + 2) = (px(i) & 0xFF).toByte
      i += 1
    }
    out
  }

  /** Full VP8L decode to ARGB pixels + dimensions — the alpha-keeping
    * form animation composition and alpha-aware callers need.
    */
  private def decodeVp8lArgb(b: Array[Byte], start: Int,
      endExcl: Int): (Array[Int], Int, Int) = {
    if (endExcl - start < 5 || u8(b, start) != 0x2F) fail("bad vp8l signature")
    val br = new Bits(b, start + 1, endExcl)
    val fullW = br.read(14) + 1
    val fullH = br.read(14) + 1
    br.readBit() // alpha-is-used hint
    if (br.read(3) != 0) fail("vp8l version not 0")
    (decodeVp8lBody(br, fullW, fullH), fullW, fullH)
  }

  /** The level-0 image-stream AFTER the signature/dimension header:
    * optional-transform list, spatially-coded image, inverse
    * transforms. ALPH alpha planes embed exactly this (dimensions
    * come from the VP8 chunk), so both paths share it.
    */
  private def decodeVp8lBody(br: Bits, fullW: Int,
      fullH: Int): Array[Int] = {
    if (fullW.toLong * fullH > MaxPixels) fail("pixel bomb")
    // transforms (main image only), each type at most once; color
    // indexing shrinks the coded width for everything read after it
    var xsize = fullW
    val transforms = ArrayBuffer.empty[Transform]
    var seen = 0
    while (br.readBit() == 1) {
      val kind = br.read(2)
      if ((seen & (1 << kind)) != 0) fail("duplicate transform")
      seen |= 1 << kind
      kind match {
        case 2 => // subtract-green: no payload
          transforms += Transform(2, 0, null, xsize)
        case 0 | 1 => // predictor | cross-color: tiled sub-image
          val bits = br.read(3) + 2
          val tw = (xsize + (1 << bits) - 1) >> bits
          val th = (fullH + (1 << bits) - 1) >> bits
          val data = decodeImage(br, tw, th, allowMeta = false)
          transforms += Transform(kind, bits, data, xsize)
        case _ => // color indexing: palette + packed pixels
          val paletteSize = br.read(8) + 1
          val raw = decodeImage(br, paletteSize, 1, allowMeta = false)
          // palette entries are delta-coded against the previous one
          var i = 1
          while (i < raw.length) { raw(i) = addPixels(raw(i), raw(i - 1)); i += 1 }
          transforms += Transform(3, 0, raw, xsize)
          val widthBits =
            if (paletteSize <= 2) 3
            else if (paletteSize <= 4) 2
            else if (paletteSize <= 16) 1
            else 0
          xsize = (xsize + (1 << widthBits) - 1) >> widthBits
      }
    }
    var px = decodeImage(br, xsize, fullH, allowMeta = true)
    var curW = xsize
    // inverse transforms in reverse read order
    var ti = transforms.length - 1
    while (ti >= 0) {
      val t = transforms(ti)
      t.kind match {
        case 0 => inversePredictor(px, curW, fullH, t)
        case 1 => inverseColor(px, curW, fullH, t)
        case 2 => inverseSubtractGreen(px)
        case 3 =>
          px = inverseColorIndexing(px, curW, fullH, t.xsizeAtRead, t)
          curW = t.xsizeAtRead
      }
      ti -= 1
    }
    if (curW != fullW) fail("transform stack did not restore width")
    px
  }

  // ---- ALPH alpha plane (lossy stills with transparency) --------------

  /** Inverse of the WebP alpha filters: `A = (stored + pred) mod 256`
    * applied in raster order over already-reconstructed values.
    * Predictors — 1: left (first column: above), 2: above (first
    * row: left), 3: gradient clip(left + above - topleft); the very
    * first pixel always predicts 0.
    */
  /** The alpha-filter predictor at (x,y) of `a` — shared by the
    * inverse (decode) and forward (synth) passes so they can never
    * diverge.
    */
  private def alphaPred(a: Array[Byte], w: Int, x: Int, y: Int,
      method: Int): Int = {
    val i = y * w + x
    val left = if (x > 0) a(i - 1) & 0xFF else -1
    val above = if (y > 0) a(i - w) & 0xFF else -1
    val tl = if (x > 0 && y > 0) a(i - w - 1) & 0xFF else -1
    if (x == 0 && y == 0) 0
    else method match {
      case 1 => if (left >= 0) left else above
      case 2 => if (above >= 0) above else left
      case _ =>
        if (left < 0) above
        else if (above < 0) left
        else clip255(left + above - tl)
    }
  }

  private def unfilterAlpha(a: Array[Byte], w: Int, h: Int,
      method: Int): Unit = {
    if (method == 0) return
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        a(i) = ((a(i) & 0xFF) + alphaPred(a, w, x, y, method)).toByte
        x += 1
      }
      y += 1
    }
  }

  /** Decode an ALPH chunk's plane for a `w`x`h` lossy image: 1-byte
    * header (compression 0 = raw, 1 = lossless image-stream whose
    * GREEN channel is the alpha; 2-bit filter method; preprocessing
    * is a lossy-encode hint with no decode effect), then the plane.
    */
  private def decodeAlph(b: Array[Byte], start: Int, endExcl: Int,
      w: Int, h: Int): Array[Byte] = {
    if (start >= endExcl) fail("empty alpha chunk")
    if (w.toLong * h > MaxPixels) fail("pixel bomb") // raw path included
    val hdr = u8(b, start)
    if ((hdr & 0xC0) != 0) fail("reserved alpha bits")
    val method = (hdr >> 2) & 3
    val a: Array[Byte] = (hdr & 3) match {
      case 0 =>
        if (endExcl - (start + 1) < w * h) fail("raw alpha truncated")
        java.util.Arrays.copyOfRange(b, start + 1, start + 1 + w * h)
      case 1 =>
        // a full LEVEL-0 image-stream (transform list included — real
        // encoders write at least its terminator bit), green = alpha
        val br = new Bits(b, start + 1, endExcl)
        val px = decodeVp8lBody(br, w, h)
        val out = new Array[Byte](w * h)
        var i = 0
        while (i < px.length) { out(i) = ((px(i) >> 8) & 0xFF).toByte; i += 1 }
        out
      case _ => fail("reserved alpha compression method")
    }
    unfilterAlpha(a, w, h, method)
    a
  }

  /** The alpha plane of a lossy WebP carrying an ALPH chunk (the
    * VP8X-extended still shape), `w*h` unsigned bytes matching the
    * VP8 chunk's dimensions. Null when there is no ALPH chunk or on
    * damage.
    */
  def alpha(b: Array[Byte]): Array[Byte] = try {
    if (!isWebp(b)) return null
    var p = 12
    var alph: (Int, Int) = null
    var dims: (Int, Int) = null
    while (p + 8 <= b.length) {
      val cc = fourCC(b, p)
      val sz = leU32(b, p + 4)
      val payload = p + 8
      if (payload + sz > b.length) return null
      cc match {
        case "ALPH" => alph = (payload, (payload + sz).toInt)
        case "VP8 " =>
          if (sz >= 10 && u8(b, payload + 3) == 0x9D &&
              u8(b, payload + 4) == 0x01 && u8(b, payload + 5) == 0x2A)
            dims = ((u8(b, payload + 6) | (u8(b, payload + 7) << 8)) & 0x3FFF,
              (u8(b, payload + 8) | (u8(b, payload + 9) << 8)) & 0x3FFF)
        case _ => ()
      }
      p = payload + sz.toInt + (sz.toInt & 1)
    }
    if (alph == null || dims == null) return null
    decodeAlph(b, alph._1, alph._2, dims._1, dims._2)
  } catch {
    case _: Err => null
    case _: ArrayIndexOutOfBoundsException => null
    case _: NegativeArraySizeException => null
  }

  // ---- animation (VP8X/ANIM/ANMF) --------------------------------------

  /** YUV 4:2:0 planes → opaque ARGB. The container spec leaves
    * YUV→RGB to the renderer, so this engine PINS one exact integer
    * convention: the classic 8-bit fixed-point BT.601 limited-range
    * formula (`R = clip((298(Y−16) + 409(V−128) + 128) >> 8)` and
    * friends) with nearest-neighbor chroma upsampling, arithmetic
    * (floor) shifts throughout — replayable as floor-division by an
    * oracle.
    */
  private def yuvToArgb(yuv: Vp8.Yuv): Array[Int] = {
    val w = yuv.width
    val h = yuv.height
    val cw = (w + 1) / 2
    val out = new Array[Int](w * h)
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        val c = (yuv.y(yy * w + xx) & 0xFF) - 16
        val ci = (yy / 2) * cw + (xx / 2)
        val d = (yuv.u(ci) & 0xFF) - 128
        val e = (yuv.v(ci) & 0xFF) - 128
        val r = clip255((298 * c + 409 * e + 128) >> 8)
        val g = clip255((298 * c - 100 * d - 208 * e + 128) >> 8)
        val bl = clip255((298 * c + 516 * d + 128) >> 8)
        out(yy * w + xx) = 0xFF000000 | (r << 16) | (g << 8) | bl
        xx += 1
      }
      yy += 1
    }
    out
  }

  /** Compose an animated WebP's full frame sequence onto its canvas:
    * ANIM's background color fills the canvas, each ANMF frame
    * renders its sub-image at (x,y) — alpha-blended or overwritten
    * per its blending flag — and dispose-to-background restores the
    * frame's rectangle before the NEXT frame. Returns
    * `(canvasW, canvasH, nFrames, rgb)` of the final canvas, the
    * [[graft.operators.Containers.gifAnimate]] convention. VP8L
    * sub-frames compose exactly; LOSSY (VP8 keyframe) sub-frames
    * decode through [[Vp8]] and convert via the pinned BT.601
    * integer formula ([[yuvToArgb]]), honoring a preceding ALPH
    * chunk's transparency plane. Sub-frames this decoder can't
    * reconstruct — interframes, or keyframes leaning on the unpinned
    * default probability tables — return null (the classifier names
    * that a profile gap, not corruption). Null likewise on
    * structural damage or when the file isn't animated.
    */
  def webpAnimate(b: Array[Byte]): (Int, Int, Int, Array[Byte]) = try {
    if (!isWebp(b)) return null
    var p = 12
    var canvasW = 0
    var canvasH = 0
    var anim = false
    var bg = 0
    var canvas: Array[Int] = null
    var frames = 0
    // trailing-dispose correction: the final canvas must show the
    // LAST frame as rendered even when it sets dispose — snapshot the
    // rendered rectangle before wiping it
    var lastDisposed: (Int, Int, Int, Int, Array[Int]) = null
    while (p + 8 <= b.length) {
      val cc = fourCC(b, p)
      val sz = leU32(b, p + 4)
      val payload = p + 8
      if (payload + sz > b.length) return null
      cc match {
        case "VP8X" =>
          if (sz < 10) return null
          anim = (u8(b, payload) & 2) != 0
          canvasW = (u8(b, payload + 4) | (u8(b, payload + 5) << 8) |
            (u8(b, payload + 6) << 16)) + 1
          canvasH = (u8(b, payload + 7) | (u8(b, payload + 8) << 8) |
            (u8(b, payload + 9) << 16)) + 1
          if (canvasW.toLong * canvasH > MaxPixels) return null
        case "ANIM" =>
          if (!anim || sz < 6) return null
          // background color is stored B,G,R,A
          bg = ((u8(b, payload + 3) << 24) | (u8(b, payload + 2) << 16) |
            (u8(b, payload + 1) << 8) | u8(b, payload))
          canvas = Array.fill(canvasW * canvasH)(bg)
        case "ANMF" =>
          if (canvas == null || sz < 16) return null
          val fx = (u8(b, payload) | (u8(b, payload + 1) << 8) |
            (u8(b, payload + 2) << 16)) * 2
          val fy = (u8(b, payload + 3) | (u8(b, payload + 4) << 8) |
            (u8(b, payload + 5) << 16)) * 2
          val fw = (u8(b, payload + 6) | (u8(b, payload + 7) << 8) |
            (u8(b, payload + 8) << 16)) + 1
          val fh = (u8(b, payload + 9) | (u8(b, payload + 10) << 8) |
            (u8(b, payload + 11) << 16)) + 1
          // bytes 12-14: duration; byte 15: bit1 = do-not-blend,
          // bit0 = dispose-to-background
          val flags = u8(b, payload + 15)
          val noBlend = (flags & 2) != 0
          val dispose = (flags & 1) != 0
          if (fx + fw > canvasW || fy + fh > canvasH) return null
          // the frame's own image chunks (optional ALPH + VP8L/VP8)
          var q = payload + 16
          val fEnd = payload + sz.toInt
          var px: Array[Int] = null
          var alph: (Int, Int) = null // ALPH precedes the image chunk
          while (q + 8 <= fEnd && px == null) {
            val fcc = fourCC(b, q)
            val fsz = leU32(b, q + 4)
            val fp = q + 8
            if (fp + fsz > fEnd) return null
            if (fcc == "VP8L") {
              val (got, gw, gh) = decodeVp8lArgb(b, fp, (fp + fsz).toInt)
              if (gw != fw || gh != fh) return null
              px = got
            } else if (fcc == "VP8 ") {
              val yv = Vp8.decodeFrame(b, fp, fsz.toInt)
              if (yv == null || yv.width != fw || yv.height != fh) return null
              px = yuvToArgb(yv)
              if (alph != null) {
                val a = decodeAlph(b, alph._1, alph._2, fw, fh)
                var i = 0
                while (i < px.length) {
                  px(i) = (px(i) & 0xFFFFFF) | ((a(i) & 0xFF) << 24)
                  i += 1
                }
              }
            } else if (fcc == "ALPH") alph = (fp, (fp + fsz).toInt)
            q = fp + fsz.toInt + (fsz.toInt & 1)
          }
          if (px == null) return null
          // render with per-pixel blending (opaque pixels overwrite)
          var yy = 0
          while (yy < fh) {
            var xx = 0
            while (xx < fw) {
              val src = px(yy * fw + xx)
              val di = (fy + yy) * canvasW + (fx + xx)
              val sa = (src >>> 24) & 0xFF
              canvas(di) =
                if (noBlend || sa == 255) src
                else if (sa == 0) canvas(di)
                else {
                  val dst = canvas(di)
                  val da = (dst >>> 24) & 0xFF
                  val oa = sa + da * (255 - sa) / 255
                  if (oa == 0) 0
                  else {
                    def ch(shift: Int): Int = {
                      val sc = (src >> shift) & 0xFF
                      val dc = (dst >> shift) & 0xFF
                      (sc * sa + dc * da * (255 - sa) / 255) / oa
                    }
                    (oa << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
                  }
                }
              xx += 1
            }
            yy += 1
          }
          frames += 1
          if (dispose) {
            // snapshot the RENDERED rectangle (blend results and all),
            // then restore it to background for the next frame
            val snap = new Array[Int](fw * fh)
            var ry = 0
            while (ry < fh) {
              var rx = 0
              while (rx < fw) {
                val ci = (fy + ry) * canvasW + (fx + rx)
                snap(ry * fw + rx) = canvas(ci)
                canvas(ci) = bg
                rx += 1
              }
              ry += 1
            }
            lastDisposed = (fx, fy, fw, fh, snap)
          } else lastDisposed = null
        case _ => ()
      }
      p = payload + sz.toInt + (sz.toInt & 1)
    }
    if (!anim || canvas == null || frames == 0) return null
    // undo a trailing dispose: the final canvas is the state WITH the
    // last frame rendered (the snapshot preserves blend results and
    // non-opaque pixels exactly)
    if (lastDisposed != null) {
      val (fx, fy, fw, fh, snap) = lastDisposed
      var yy = 0
      while (yy < fh) {
        var xx = 0
        while (xx < fw) {
          canvas((fy + yy) * canvasW + (fx + xx)) = snap(yy * fw + xx)
          xx += 1
        }
        yy += 1
      }
    }
    val rgb = new Array[Byte](canvasW * canvasH * 3)
    var i = 0
    while (i < canvas.length) {
      rgb(i * 3) = ((canvas(i) >> 16) & 0xFF).toByte
      rgb(i * 3 + 1) = ((canvas(i) >> 8) & 0xFF).toByte
      rgb(i * 3 + 2) = (canvas(i) & 0xFF).toByte
      i += 1
    }
    (canvasW, canvasH, frames, rgb)
  } catch {
    case _: Err => null
    case _: ArrayIndexOutOfBoundsException => null
    case _: NegativeArraySizeException => null
  }

  // ---- synthesizer ---------------------------------------------------
  // Write-side counterpart for corpora and round-trip pins (no WebP
  // encoder ships in the JVM): real VP8L streams a conformant decoder
  // reads. Ground truth against libwebp itself lives in WebpSpec's
  // embedded fixtures.

  private final class BitWriterLsb {
    private val bytes = ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nbits = 0
    def writeBits(v: Int, n: Int): Unit = { // value bits, LSB-first
      var i = 0
      while (i < n) {
        cur |= ((v >> i) & 1) << nbits
        nbits += 1
        if (nbits == 8) { bytes += cur.toByte; cur = 0; nbits = 0 }
        i += 1
      }
    }
    def writeCode(code: Int, len: Int): Unit = { // Huffman code, MSB-first
      var i = len - 1
      while (i >= 0) { writeBits((code >> i) & 1, 1); i -= 1 }
    }
    def result(): Array[Byte] = {
      if (nbits > 0) { bytes += cur.toByte; cur = 0; nbits = 0 }
      bytes.toArray
    }
  }

  /** Write a normal code description whose lengths are `8` for
    * symbols `[0, n8)` and `9` for `[n8, n8+n9)` (kraft-complete when
    * `n8/256 + n9/512 == 1`); CL code = {8→'0', 9→'10', 16→'11'}
    * with run-length 16 repeats.
    */
  private def writeTwoLevelCode(bw: BitWriterLsb, n8: Int, n9: Int): Unit = {
    require(n8 * 2 + n9 == 512, "kraft must close")
    bw.writeBits(0, 1) // normal code
    bw.writeBits(15 - 4, 4) // read 15 CL slots (covers order idx of 8,9,16)
    // ClOrder = 17,18,0,1,2,3,4,5,16,6,7,8,9,10,11,12,13,14,15
    val clLen = Map(16 -> 2, 8 -> 1, 9 -> 2)
    for (i <- 0 until 15) bw.writeBits(clLen.getOrElse(ClOrder(i), 0), 3)
    bw.writeBits(0, 1) // no max_symbol cap
    // canonical CL codes: 8→0 (1 bit); 9→10, 16→11 (2 bits)
    def sym(s: Int): Unit = s match {
      case 8 => bw.writeCode(0, 1)
      case 9 => bw.writeCode(2, 2)
      case _ => bw.writeCode(3, 2)
    }
    def runOf(s: Int, count: Int): Unit = {
      sym(s) // literal first (repeat-16 copies the previous length)
      var left = count - 1
      while (left >= 3) {
        val take = math.min(6, left)
        sym(16)
        bw.writeBits(take - 3, 2)
        left -= take
      }
      var i = 0
      while (i < left) { sym(s); i += 1 }
    }
    runOf(8, n8)
    if (n9 > 0) runOf(9, n9)
  }

  /** One-symbol simple code (zero bits per use). */
  private def writeSimple1(bw: BitWriterLsb, sym: Int): Unit = {
    bw.writeBits(1, 1) // simple
    bw.writeBits(0, 1) // one symbol
    if (sym < 2) { bw.writeBits(0, 1); bw.writeBits(sym, 1) }
    else { bw.writeBits(1, 1); bw.writeBits(sym, 8) }
  }

  /** Two-symbol simple code (one bit per use): s0 → 0, s1 → 1. */
  private def writeSimple2(bw: BitWriterLsb, s0: Int, s1: Int): Unit = {
    bw.writeBits(1, 1)
    bw.writeBits(1, 1) // two symbols
    if (s0 < 2) { bw.writeBits(0, 1); bw.writeBits(s0, 1) }
    else { bw.writeBits(1, 1); bw.writeBits(s0, 8) }
    bw.writeBits(s1, 8)
  }

  /** Green-channel canonical code for the two-level layout: symbols
    * 0..n8-1 are 8-bit codes = their own value; n8..n8+n9-1 are
    * 9-bit codes starting at 2·n8.
    */
  private def greenCode(bw: BitWriterLsb, sym: Int, n8: Int): Unit =
    if (sym < n8) bw.writeCode(sym, 8)
    else bw.writeCode((n8 << 1) + (sym - n8), 9)

  private def riffWrap(vp8l: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val chunkLen = vp8l.length
    val padded = chunkLen + (chunkLen & 1)
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(le32(4 + 8 + padded))
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8L".getBytes("US-ASCII"))
    out.write(le32(chunkLen))
    out.write(vp8l, 0, vp8l.length)
    if ((chunkLen & 1) == 1) out.write(0)
    out.toByteArray
  }

  private def vp8lHeader(bw: BitWriterLsb, w: Int, h: Int): Unit = {
    require(w >= 1 && w <= 16384 && h >= 1 && h <= 16384)
    bw.writeBits(w - 1, 14)
    bw.writeBits(h - 1, 14)
    bw.writeBits(0, 1) // alpha unused
    bw.writeBits(0, 3) // version
  }

  /** Literal VP8L encode of RGB pixels (no transforms, no cache, no
    * refs): green/red/blue via the 232×8+48×9 two-level code, alpha
    * pinned to 255 by a zero-bit simple code.
    */
  def synthVp8lLiteral(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
    riffWrap(vp8lLiteralPayload(w, h, rgb))

  /** The bare VP8L chunk payload of a literal-coded image — the form
    * ANMF animation frames embed (no RIFF wrapper of its own).
    */
  def vp8lLiteralPayload(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3)
    val bw = new BitWriterLsb
    bw.writeBits(0x2F, 8)
    vp8lHeader(bw, w, h)
    bw.writeBits(0, 1) // no transforms
    bw.writeBits(0, 1) // no color cache
    bw.writeBits(0, 1) // no meta-prefix
    // green: 280-symbol alphabet (256 literals + 24 lengths), kraft
    // closing as 232 8-bit + 48 9-bit codes
    writeTwoLevelCode(bw, 232, 48)
    writeTwoLevelCode(bw, 256, 0) // red
    writeTwoLevelCode(bw, 256, 0) // blue
    writeSimple1(bw, 255) // alpha
    writeSimple1(bw, 0) // distance (never used)
    var i = 0
    while (i < w * h) {
      greenCode(bw, u8(rgb, i * 3 + 1), 232)
      bw.writeCode(u8(rgb, i * 3), 8)
      bw.writeCode(u8(rgb, i * 3 + 2), 8)
      i += 1
    }
    bw.result()
  }

  /** Two-color VP8L via simple codes: pixel (x,y) takes color `a`
    * when `pick(x, y)` is false, `b` when true. Exercises the
    * 1-/2-symbol simple-code path end to end.
    */
  def synthVp8lTwoColor(w: Int, h: Int, a: (Int, Int, Int), bcol: (Int, Int, Int),
      pick: (Int, Int) => Boolean): Array[Byte] = {
    val bw = new BitWriterLsb
    bw.writeBits(0x2F, 8)
    vp8lHeader(bw, w, h)
    bw.writeBits(0, 1); bw.writeBits(0, 1); bw.writeBits(0, 1)
    val gDiff = a._2 != bcol._2
    val rDiff = a._1 != bcol._1
    val bDiff = a._3 != bcol._3
    if (gDiff) writeSimple2(bw, a._2, bcol._2) else writeSimple1(bw, a._2)
    if (rDiff) writeSimple2(bw, a._1, bcol._1) else writeSimple1(bw, a._1)
    if (bDiff) writeSimple2(bw, a._3, bcol._3) else writeSimple1(bw, a._3)
    writeSimple1(bw, 255)
    writeSimple1(bw, 0)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val second = pick(x, y)
        // NOTE green is read first; simple-2 maps first symbol → bit 0
        if (gDiff) bw.writeBits(if (second) 1 else 0, 1)
        if (rDiff) bw.writeBits(if (second) 1 else 0, 1)
        if (bDiff) bw.writeBits(if (second) 1 else 0, 1)
        x += 1
      }
      y += 1
    }
    riffWrap(bw.result())
  }

  /** Row-replicating VP8L: row 0 is literal, every later row is ONE
    * LZ77 backref copying the previous row via 2-D plane code (0,1) —
    * pins the distance-map path in round-trip.
    */
  def synthVp8lRowCopy(w: Int, h: Int, row0: Array[Byte]): Array[Byte] = {
    require(row0.length == w * 3 && h >= 2 && w >= 3)
    val bw = new BitWriterLsb
    bw.writeBits(0x2F, 8)
    vp8lHeader(bw, w, h)
    bw.writeBits(0, 1); bw.writeBits(0, 1); bw.writeBits(0, 1)
    writeTwoLevelCode(bw, 232, 48)
    writeTwoLevelCode(bw, 256, 0)
    writeTwoLevelCode(bw, 256, 0)
    writeSimple1(bw, 255)
    writeSimple1(bw, 0) // distance prefix symbol 0 → plane code 1 = (0,1)
    var x = 0
    while (x < w) {
      greenCode(bw, u8(row0, x * 3 + 1), 232)
      bw.writeCode(u8(row0, x * 3), 8)
      bw.writeCode(u8(row0, x * 3 + 2), 8)
      x += 1
    }
    // one length-w backref per remaining row; green length symbol for
    // value w, then the zero-bit distance symbol, then length extras
    var y = 1
    while (y < h) {
      val (lenSym, extraBits, extraVal) = lengthPrefix(w)
      greenCode(bw, 256 + lenSym, 232)
      if (extraBits > 0) bw.writeBits(extraVal, extraBits)
      // distance: simple-1 code emits symbol 0 with no bits; plane
      // code = prefixValue(0) = 1 → (0,1) → previous row
      y += 1
    }
    riffWrap(bw.result())
  }

  /** Dev probe (used once, with libwebp as referee, to pin the 2-D
    * distance table): literals whose (red, green) encode their own
    * scan index, then ONE length-1 backref with plane code `code` as
    * the final pixel — the decoded last pixel reveals the distance
    * the reference assigns that code.
    */
  private[graft] def synthPlaneProbe(w: Int, h: Int, code: Int): Array[Byte] = {
    require(code >= 1 && code <= 120)
    val bw = new BitWriterLsb
    bw.writeBits(0x2F, 8)
    vp8lHeader(bw, w, h)
    bw.writeBits(0, 1); bw.writeBits(0, 1); bw.writeBits(0, 1)
    writeTwoLevelCode(bw, 232, 48)
    writeTwoLevelCode(bw, 256, 0)
    writeTwoLevelCode(bw, 256, 0)
    writeSimple1(bw, 255)
    val (dSym, dBits, dVal) = lengthPrefix(code)
    writeSimple1(bw, dSym)
    val total = w * h
    var i = 0
    while (i < total - 1) {
      greenCode(bw, (i >> 8) & 0xFF, 232)
      bw.writeCode(i & 0xFF, 8)
      bw.writeCode(i * 7 % 256, 8)
      i += 1
    }
    greenCode(bw, 256, 232) // length prefix symbol 0 → length 1
    if (dBits > 0) bw.writeBits(dVal, dBits)
    riffWrap(bw.result())
  }

  /** (prefix symbol, extra bit count, extra value) for an LZ77 value. */
  private def lengthPrefix(v: Int): (Int, Int, Int) = {
    require(v >= 1)
    if (v <= 4) return (v - 1, 0, 0)
    var code = 4
    while (code < 24) {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      if (v >= offset + 1 && v <= offset + (1 << extra)) return (code, extra, v - 1 - offset)
      code += 1
    }
    fail("value out of prefix range")
  }

  /** A structurally-sound LOSSY WebP header (VP8 keyframe sync code +
    * real dimensions) over an undecoded body — the shape the
    * classifier must report as a named profile gap. Write-side only:
    * this engine does not decode VP8.
    */
  /** Decode a LOSSY (VP8 keyframe) WebP to its YUV 4:2:0 planes via
    * the from-scratch [[Vp8]] decoder. Null for non-lossy profiles
    * and corruption.
    */
  def yuv(b: Array[Byte]): Vp8.Yuv = try {
    if (!isWebp(b)) return null
    var p = 12
    while (p + 8 <= b.length) {
      val cc = fourCC(b, p)
      val sz = leU32(b, p + 4)
      val payload = p + 8
      if (payload + sz > b.length) return null
      if (cc == "VP8 ") return Vp8.decodeFrame(b, payload, sz.toInt)
      p = payload + sz.toInt + (sz.toInt & 1)
    }
    null
  } catch { case _: ArrayIndexOutOfBoundsException => null }

  /** Wrap a complete VP8 keyframe bitstream (e.g.
    * [[Vp8.synthVp8Frame]] output) in the WebP RIFF container.
    */
  def synthVp8Lossy(frame: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    out.write("RIFF".getBytes("US-ASCII"))
    le32(4 + 8 + frame.length + (frame.length & 1))
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8 ".getBytes("US-ASCII"))
    le32(frame.length)
    out.write(frame, 0, frame.length)
    if ((frame.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** An ANIMATED extended WebP stub (VP8X with the ANIM flag +
    * canvas dims) — the named profile gap shape after lossy VP8
    * became decodable.
    */
  def synthVp8xAnimStub(w: Int, h: Int): Array[Byte] = {
    require(w >= 1 && h >= 1)
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    out.write("RIFF".getBytes("US-ASCII"))
    le32(4 + 8 + 10)
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8X".getBytes("US-ASCII"))
    le32(10)
    out.write(2) // ANIM flag
    out.write(0); out.write(0); out.write(0)
    val wm = w - 1
    out.write(wm & 0xFF); out.write((wm >> 8) & 0xFF); out.write((wm >> 16) & 0xFF)
    val hm = h - 1
    out.write(hm & 0xFF); out.write((hm >> 8) & 0xFF); out.write((hm >> 16) & 0xFF)
    out.toByteArray
  }

  /** An animated WebP whose single ANMF frame carries a lossy VP8
    * INTERFRAME (frame-tag bit 0 set) — the real-world animation
    * shape this keyframe-only decoder names a profile gap. The
    * container walk is structurally sound; only the sub-frame's
    * codec profile is outside scope.
    */
  def synthVp8xAnimInter(w: Int, h: Int): Array[Byte] = {
    require(w >= 1 && h >= 1)
    val inter = new Array[Byte](12)
    // frame tag: frame-type bit 0 SET = interframe (0 marks a
    // keyframe per RFC 6386 §9.1), version 0, partition length 4 —
    // no start code follows (that's keyframe-only layout)
    inter(0) = ((4 << 5) | 1).toByte
    val hdr = new Array[Byte](16)
    def put24(off: Int, v: Int): Unit = {
      hdr(off) = (v & 0xFF).toByte
      hdr(off + 1) = ((v >> 8) & 0xFF).toByte
      hdr(off + 2) = ((v >> 16) & 0xFF).toByte
    }
    put24(6, w - 1); put24(9, h - 1); put24(12, 40)
    val anim = new Array[Byte](6)
    anim(3) = 0xFF.toByte // opaque black background
    riffFile(vp8xChunk(0x02, w, h), chunkBytes("ANIM", anim),
      chunkBytes("ANMF", hdr ++ chunkBytes("VP8 ", inter)))
  }

  /** Literal encode with the subtract-green transform: residual
    * r−g, b−g mod 256 round-trips the transform inverse.
    */
  def synthVp8lSubtractGreen(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3)
    val bw = new BitWriterLsb
    bw.writeBits(0x2F, 8)
    vp8lHeader(bw, w, h)
    bw.writeBits(1, 1) // a transform follows
    bw.writeBits(2, 2) // subtract-green
    bw.writeBits(0, 1) // no more transforms
    bw.writeBits(0, 1) // no cache
    bw.writeBits(0, 1) // no meta
    writeTwoLevelCode(bw, 232, 48)
    writeTwoLevelCode(bw, 256, 0)
    writeTwoLevelCode(bw, 256, 0)
    writeSimple1(bw, 255)
    writeSimple1(bw, 0)
    var i = 0
    while (i < w * h) {
      val r = u8(rgb, i * 3)
      val g = u8(rgb, i * 3 + 1)
      val b = u8(rgb, i * 3 + 2)
      greenCode(bw, g, 232)
      bw.writeCode((r - g) & 0xFF, 8)
      bw.writeCode((b - g) & 0xFF, 8)
      i += 1
    }
    riffWrap(bw.result())
  }
  // ---- ALPH + animation synthesizers -----------------------------------

  private def chunkBytes(cc: String, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(8 + payload.length + 1)
    out.write(cc.getBytes("US-ASCII"))
    val v = payload.length
    out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    out.write(payload, 0, payload.length)
    if ((v & 1) == 1) out.write(0)
    out.toByteArray
  }

  private def riffFile(chunks: Array[Byte]*): Array[Byte] = {
    val body = chunks.map(_.length).sum
    val out = new java.io.ByteArrayOutputStream(12 + body)
    out.write("RIFF".getBytes("US-ASCII"))
    val v = 4 + body
    out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    out.write("WEBP".getBytes("US-ASCII"))
    chunks.foreach(c => out.write(c, 0, c.length))
    out.toByteArray
  }

  private def vp8xChunk(flags: Int, w: Int, h: Int): Array[Byte] = {
    val p = new Array[Byte](10)
    p(0) = flags.toByte
    p(4) = ((w - 1) & 0xFF).toByte; p(5) = (((w - 1) >> 8) & 0xFF).toByte
    p(6) = (((w - 1) >> 16) & 0xFF).toByte
    p(7) = ((h - 1) & 0xFF).toByte; p(8) = (((h - 1) >> 8) & 0xFF).toByte
    p(9) = (((h - 1) >> 16) & 0xFF).toByte
    chunkBytes("VP8X", p)
  }

  /** Forward WebP alpha filtering (the synth counterpart of
    * [[unfilterAlpha]]): residual = (A − pred) mod 256, predictors
    * from the ORIGINAL plane.
    */
  private def filterAlpha(a: Array[Byte], w: Int, h: Int,
      method: Int): Array[Byte] = {
    if (method == 0) return a.clone()
    val out = new Array[Byte](a.length)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        // predictors read the ORIGINAL plane (a), residuals go to out
        out(i) = ((a(i) & 0xFF) - alphaPred(a, w, x, y, method)).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** ALPH chunk payload: raw (compression 0) or lossless image-stream
    * (compression 1, alpha in the green channel), under filter
    * `method` 0-3.
    */
  def synthAlphPayload(w: Int, h: Int, alphaPlane: Array[Byte],
      method: Int, compressed: Boolean): Array[Byte] = {
    require(alphaPlane.length == w * h && method >= 0 && method <= 3)
    val filtered = filterAlpha(alphaPlane, w, h, method)
    val out = new java.io.ByteArrayOutputStream()
    out.write((method << 2) | (if (compressed) 1 else 0))
    if (!compressed) out.write(filtered, 0, filtered.length)
    else {
      // headerless VP8L image-stream: no cache, no meta, alpha coded
      // through the green channel, other channels single-symbol
      val bw = new BitWriterLsb
      bw.writeBits(0, 1) // transform list terminator (level-0 stream)
      bw.writeBits(0, 1) // no color cache
      bw.writeBits(0, 1) // no meta-prefix
      writeTwoLevelCode(bw, 232, 48) // green (the alpha values)
      writeSimple1(bw, 0) // red
      writeSimple1(bw, 0) // blue
      writeSimple1(bw, 255) // alpha channel of the stream itself
      writeSimple1(bw, 0) // distance (never used)
      var i = 0
      while (i < filtered.length) {
        greenCode(bw, filtered(i) & 0xFF, 232)
        i += 1
      }
      val stream = bw.result()
      out.write(stream, 0, stream.length)
    }
    out.toByteArray
  }

  /** A VP8X still: ALPH plane + lossy VP8 frame — the
    * transparency-carrying shape real lossy WebP ships in.
    */
  def synthAlphaStill(w: Int, h: Int, alphaPlane: Array[Byte], method: Int,
      compressed: Boolean, vp8Frame: Array[Byte]): Array[Byte] =
    riffFile(
      vp8xChunk(0x10, w, h), // alpha flag
      chunkBytes("ALPH", synthAlphPayload(w, h, alphaPlane, method, compressed)),
      chunkBytes("VP8 ", vp8Frame))

  /** One animation frame for [[synthWebpAnim]]: even pixel offsets,
    * per-frame blend/dispose flags, and EITHER literal-coded RGB
    * content (`rgb`, embedded as VP8L) or a pre-encoded lossy VP8
    * keyframe bitstream (`vp8` non-null, embedded as a `VP8 ` chunk,
    * optionally preceded by a raw ALPH payload in `alph`).
    */
  final case class AnimFrame(x: Int, y: Int, w: Int, h: Int,
      rgb: Array[Byte], noBlend: Boolean, dispose: Boolean,
      vp8: Array[Byte] = null, alph: Array[Byte] = null)

  /** An animated WebP: VP8X(ANIM) + ANIM(background, loop) + one ANMF
    * per frame, each embedding a literal VP8L sub-image.
    */
  def synthWebpAnim(canvasW: Int, canvasH: Int, bgArgb: Int, loop: Int,
      frames: Seq[AnimFrame]): Array[Byte] = {
    val anim = new Array[Byte](6)
    anim(0) = (bgArgb & 0xFF).toByte // B
    anim(1) = ((bgArgb >> 8) & 0xFF).toByte // G
    anim(2) = ((bgArgb >> 16) & 0xFF).toByte // R
    anim(3) = ((bgArgb >>> 24) & 0xFF).toByte // A
    anim(4) = (loop & 0xFF).toByte
    anim(5) = ((loop >> 8) & 0xFF).toByte
    val anmfs = frames.map { f =>
      require(f.x % 2 == 0 && f.y % 2 == 0, "ANMF offsets are even")
      require(f.x + f.w <= canvasW && f.y + f.h <= canvasH, "frame escapes canvas")
      val hdr = new Array[Byte](16)
      def put24(off: Int, v: Int): Unit = {
        hdr(off) = (v & 0xFF).toByte
        hdr(off + 1) = ((v >> 8) & 0xFF).toByte
        hdr(off + 2) = ((v >> 16) & 0xFF).toByte
      }
      put24(0, f.x / 2); put24(3, f.y / 2)
      put24(6, f.w - 1); put24(9, f.h - 1)
      put24(12, 40) // duration ms
      hdr(15) = ((if (f.noBlend) 2 else 0) | (if (f.dispose) 1 else 0)).toByte
      val img =
        if (f.vp8 == null) chunkBytes("VP8L", vp8lLiteralPayload(f.w, f.h, f.rgb))
        else if (f.alph == null) chunkBytes("VP8 ", f.vp8)
        else chunkBytes("ALPH", f.alph) ++ chunkBytes("VP8 ", f.vp8)
      chunkBytes("ANMF", hdr ++ img)
    }
    riffFile(vp8xChunk(0x02, canvasW, canvasH) +: chunkBytes("ANIM", anim) +:
      anmfs: _*)
  }

}
