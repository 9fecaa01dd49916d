package graft

import graft.operators.{Containers, Multimodal}
import graft.sources.Tables

class MultimodalSpec extends SparkSpec {

  test("bmp pixel decode round-trips through padding and bottom-up rows") {
    // 3x2 image: width*3 = 9 bytes/row → 3 padding bytes per row.
    val px = Array.tabulate(3 * 2 * 3)(i => (i * 11 % 256).toByte)
    val bmp = Containers.synthBmp24(3, 2, px)
    assert(Containers.bmpPixelBytes(bmp).toSeq == px.toSeq)
    // Parsed header agrees with the synthesized geometry.
    val h = Containers.parse(bmp)
    assert(h.format == "bmp" && h.width == 3 && h.height == 2)
    // Corrupt / non-24bpp inputs degrade to null, never throw.
    assert(Containers.bmpPixelBytes(bmp.take(40)) == null)
    assert(Containers.bmpPixelBytes("not a bitmap at all".getBytes) == null)
    val truncated = bmp.take(bmp.length - 1) // missing final pixel byte
    assert(Containers.bmpPixelBytes(truncated) == null)
  }

  test("png pixel decode round-trips every filter type and color type") {
    // Each single filter type in isolation (every row the same filter),
    // on dims where left/up/upper-left neighbors all exist.
    val px = Array.tabulate(5 * 4 * 3)(i => (i * 37 % 256).toByte)
    for (ft <- 0 to 4) {
      val png = Containers.synthPng(5, 4, px, _ => ft)
      assert(Containers.pngPixelBytes(png).toSeq == px.toSeq,
        s"filter $ft failed to round-trip")
    }
    // All five filters mixed in one image (the corpus convention).
    val mixed = Containers.synthPng(5, 4, px, row => row % 5)
    assert(Containers.pngPixelBytes(mixed).toSeq == px.toSeq)
    // Header parse agrees with the synthesized geometry.
    val h = Containers.parse(mixed)
    assert(h.format == "png" && h.width == 5 && h.height == 4)
    // Grayscale (type 0, bpp 1): single channel replicated ×3.
    val gray = Array.tabulate(5 * 4)(i => (i * 53 % 256).toByte)
    val gpng = Containers.synthPng(5, 4, 0, gray, row => row % 5)
    val gdec = Containers.pngPixelBytes(gpng)
    assert(gdec.length == 5 * 4 * 3)
    for (p <- 0 until 20; c <- 0 until 3) assert(gdec(3 * p + c) == gray(p))
    // RGBA (type 6, bpp 4): alpha dropped after unfiltering.
    val rgba = Array.tabulate(5 * 4 * 4)(i => (i * 29 % 256).toByte)
    val apng = Containers.synthPng(5, 4, 6, rgba, row => row % 5)
    val adec = Containers.pngPixelBytes(apng)
    for (p <- 0 until 20; c <- 0 until 3) assert(adec(3 * p + c) == rgba(4 * p + c))
  }

  test("png: palette depths 1/2/4/8, 16-bit gray, and gray+alpha decode") {
    // palette at every depth, odd width (sub-byte row padding in play)
    val w = 11; val h = 6
    for (depth <- Seq(1, 2, 4, 8)) {
      val np = 1 << depth
      val pal = Array.tabulate(3 * np)(i => (i * 37 + 5) % 256)
      val idx = Array.tabulate(w * h)(i => (i * 7 + 3) % np)
      val png = Containers.synthPngPal(w, h, depth, pal, idx, _ % 5)
      val px = Containers.pngPixelBytes(png)
      assert(px != null, s"depth $depth")
      for (p <- 0 until w * h; c <- 0 until 3)
        assert((px(3 * p + c) & 0xFF) == pal(3 * idx(p) + c),
          s"depth $depth pixel $p ch $c")
    }
    // out-of-palette index degrades to null (np < 2^depth)
    val smallPal = Array.tabulate(3 * 3)(i => i * 11 % 256) // 3 entries at depth 4
    val badIdx = Array.fill(4 * 4)(2)
    val okPng = Containers.synthPngPal(4, 4, 4, smallPal, badIdx, _ => 0)
    assert(Containers.pngPixelBytes(okPng) != null)
    // patch a packed index nibble beyond np: find IDAT, too fiddly —
    // instead drop PLTE to prove the missing-palette degrade
    val noPlte = {
      val p = okPng
      // PLTE chunk: after 8-sig + 25-IHDR; length 9 + 12 overhead
      p.take(33) ++ p.drop(33 + 12 + 9)
    }
    assert(Containers.pngPixelBytes(noPlte) == null)
    // 16-bit gray: the HIGH byte is the 8-bit sample; low byte ignored
    val hi = Array.tabulate(w * h)(i => ((i * 13 + 1) % 256).toByte)
    val lo = Array.tabulate(w * h)(i => ((i * 91 + 7) % 256).toByte)
    val png16 = Containers.synthPngGray16(w, h, hi, lo, _ % 5)
    val px16 = Containers.pngPixelBytes(png16)
    assert(px16 != null)
    for (p <- 0 until w * h; c <- 0 until 3)
      assert(px16(3 * p + c) == hi(p), s"16-bit pixel $p")
    // gray+alpha (color type 4): gray kept, alpha dropped
    val ga = Array.tabulate(w * h * 2)(i =>
      (if (i % 2 == 0) (i * 5) % 256 else 200).toByte)
    val png4 = Containers.synthPng(w, h, 4, ga, _ % 5)
    val px4 = Containers.pngPixelBytes(png4)
    assert(px4 != null)
    for (p <- 0 until w * h; c <- 0 until 3)
      assert(px4(3 * p + c) == ga(2 * p), s"gray+alpha pixel $p")
  }

  test("png: Adam7 interlaced images decode across color types and sizes") {
    // sizes below 8 in one/both axes exercise EMPTY passes
    for ((w, h) <- Seq((16, 12), (7, 3), (8, 8), (5, 9), (1, 1), (2, 2));
         colorType <- Seq(0, 2, 6)) {
      val ch = colorType match { case 0 => 1; case 2 => 3; case _ => 4 }
      val samples = Array.tabulate(w * h * ch)(i => ((i * 31 + 7) % 256).toByte)
      val png = Containers.synthPngAdam7(w, h, colorType, samples, _ % 5)
      val px = Containers.pngPixelBytes(png)
      assert(px != null, s"($w,$h) ct=$colorType")
      for (p <- 0 until w * h; c <- 0 until 3) {
        val expect = colorType match {
          case 0 => samples(p) // gray replicated
          case _ => samples(p * ch + c)
        }
        assert(px(3 * p + c) == expect, s"($w,$h) ct=$colorType pixel $p ch $c")
      }
      // the SAME logical pixels as the sequential encoding
      val seq = Containers.pngPixelBytes(
        Containers.synthPng(w, h, colorType, samples, _ % 5))
      assert(px.toSeq == seq.toSeq, s"($w,$h) ct=$colorType vs sequential")
    }
  }

  test("png decode degrades to null on corrupt or unsupported inputs") {
    val px = Array.tabulate(4 * 3 * 3)(i => (i * 19 % 256).toByte)
    val png = Containers.synthPng(4, 3, px, _ => 4)
    assert(Containers.pngPixelBytes(png) != null)
    // Not a PNG at all / truncated mid-chunk / truncated DEFLATE stream.
    assert(Containers.pngPixelBytes("clearly not an image".getBytes) == null)
    assert(Containers.pngPixelBytes(png.take(30)) == null)
    // Shrink the IDAT declared length by 8 (length word at offset 33 =
    // 8 sig + 25 IHDR chunk): the walk now feeds the inflater a stream
    // missing real compressed bytes (not just the 4-byte adler
    // trailer), so inflation cannot complete — and the misaligned
    // follow-on "chunk" must bounds-degrade, not throw.
    val short = png.clone()
    short(36) = (short(36) - 8).toByte
    assert(Containers.pngPixelBytes(short) == null)
    // Unsupported profiles: patch the IHDR fields in place (data starts
    // at offset 16: width, height, depth@24, color@25, interlace@28).
    def patched(at: Int, v: Byte): Array[Byte] = {
      val c = png.clone(); c(at) = v; c
    }
    // 16-bit/interlace flags over 8-bit sequential data = length
    // mismatch; color type 3 without a PLTE = malformed — all corrupt
    assert(Containers.pngPixelBytes(patched(24, 16)) == null)
    assert(Containers.pngPixelBytes(patched(25, 3)) == null)
    assert(Containers.pngPixelBytes(patched(28, 1)) == null)
    // Forged-header zip bomb: huge declared height must be rejected
    // BEFORE allocation, not discovered by a failed 2 GB array.
    val bomb = png.clone()
    bomb(20) = 0x7F.toByte; bomb(21) = 0xFF.toByte // height ≈ 2^31
    assert(Containers.pngPixelBytes(bomb) == null)
    // FDICT zlib header (0x78 0xBB, checksum-valid): Inflater reports
    // needsDictionary with zero progress — must degrade to null, not
    // spin the task forever (zlib header = first 2 IDAT data bytes, at
    // offset 41 = 8 sig + 25 IHDR + 8 chunk header).
    val fdict = png.clone()
    fdict(41) = 0x78.toByte; fdict(42) = 0xBB.toByte
    assert(Containers.pngPixelBytes(fdict) == null)
    // IHDR must be FIRST (spec): a stray leading chunk would make this
    // decode diverge from parse()'s fixed-offset dimensions.
    val stray = png.take(8) ++ (
      java.nio.ByteBuffer.allocate(12).putInt(0).put("tEXt".getBytes)
        .putInt(0).array()) ++ png.drop(8)
    assert(Containers.pngPixelBytes(stray) == null)
  }

  test("bmp indexed: 8bpp and 4bpp palette decode through real color tables") {
    val pal = Array.tabulate(3 * 16)(i => (i * 31 + 5) % 256) // BGR triples
    def expect(idx: Array[Int]): Seq[Int] =
      idx.flatMap(j => Seq(pal(3 * j), pal(3 * j + 1), pal(3 * j + 2))).toSeq
    // 8bpp, odd width (row padding in play)
    val i8 = Array.tabulate(5 * 4)(i => (i * 7 + 2) % 16)
    val b8 = Containers.synthBmpPal(5, 4, 8, pal, i8)
    assert(Containers.parse(b8).format == "bmp")
    assert(Containers.bmpPixelBytes(b8)
      .map(java.lang.Byte.toUnsignedInt(_)).toSeq == expect(i8))
    // 4bpp, odd width (nibble packing + padding)
    val i4 = Array.tabulate(7 * 3)(i => (i * 5 + 1) % 16)
    val b4 = Containers.synthBmpPal(7, 3, 4, pal, i4)
    assert(Containers.bmpPixelBytes(b4)
      .map(java.lang.Byte.toUnsignedInt(_)).toSeq == expect(i4))
    // out-of-range index (beyond biClrUsed) degrades to null
    val bad = b8.clone()
    bad(54 + 4 * 16) = 200.toByte // first pixel byte: index 200 >= np 16
    assert(Containers.bmpPixelBytes(bad) == null)
    // truncated pixel array degrades to null
    assert(Containers.bmpPixelBytes(b8.take(b8.length - 3)) == null)
  }

  test("tiff: IFD walk in both byte orders, multi-strip, gray and RGB") {
    val rgb = Array.tabulate(6 * 5 * 3)(i => (i * 13 % 256).toByte)
    for (bigEndian <- Seq(false, true); rps <- Seq(0, 2)) {
      val t = Containers.synthTiff(6, 5, 3, rgb, bigEndian, rps)
      val hdr = Containers.parse(t)
      assert(hdr.format == "tiff" && hdr.width == 6 && hdr.height == 5,
        s"be=$bigEndian rps=$rps")
      assert(Containers.tiffPixelBytes(t).toSeq == rgb.toSeq,
        s"be=$bigEndian rps=$rps")
    }
    // grayscale replicates its channel; via the shared dispatcher too
    val gray = Array.tabulate(6 * 5)(i => (i * 29 % 256).toByte)
    val gt = Containers.synthTiff(6, 5, 1, gray, bigEndian = true, rowsPerStrip = 3)
    val gd = Multimodal.imagePixelBytes(gt)
    for (p <- 0 until 30; c <- 0 until 3) assert(gd(3 * p + c) == gray(p))
    // degrades: not a tiff / truncated strips / compressed / planar
    assert(Containers.tiffPixelBytes("not a tiff at all".getBytes) == null)
    val full = Containers.synthTiff(6, 5, 3, rgb)
    assert(Containers.tiffPixelBytes(full.take(full.length - 5)) == null)
    // Compression tag (259) is the 4th entry: value at 8+2+3*12+8
    val jpegInTiff = full.clone()
    jpegInTiff(8 + 2 + 3 * 12 + 8) = 7 // JPEG-in-TIFF: unsupported
    assert(Containers.tiffPixelBytes(jpegInTiff) == null)
  }

  test("tiff: LZW/Deflate/PackBits strips round-trip, predictor undone") {
    // noisy data (exercises LZW width growth + literal PackBits
    // packets) and runs (exercises repeat packets)
    val w = 40; val h = 30
    val noisy = Array.tabulate(w * h * 3)(i => ((i * 31 + i * i % 97) % 256).toByte)
    val runs = Array.tabulate(w * h * 3)(i => ((i / 64) % 256).toByte)
    for (comp <- Seq(5, 8, 32773); pred <- Seq(1, 2);
         data <- Seq(noisy, runs); be <- Seq(false, true)) {
      val t = Containers.synthTiff(w, h, 3, data, bigEndian = be,
        rowsPerStrip = 7, compression = comp, predictor = pred)
      assert(Containers.tiffPixelBytes(t).toSeq == data.toSeq,
        s"comp=$comp pred=$pred be=$be noisy=${data eq noisy}")
    }
    // grayscale + predictor over a single strip
    val gray = Array.tabulate(w * h)(i => ((i * 7) % 256).toByte)
    val gt = Containers.synthTiff(w, h, 1, gray, compression = 8, predictor = 2)
    val gd = Containers.tiffPixelBytes(gt)
    for (p <- 0 until w * h; c <- 0 until 3) assert(gd(3 * p + c) == gray(p))
    // corrupt compressed strip degrades to null (flip a mid-data byte)
    val z = Containers.synthTiff(w, h, 3, noisy, compression = 8)
    val zb = z.clone(); zb(z.length - 40) = (zb(z.length - 40) ^ 0x55).toByte
    assert(Containers.tiffPixelBytes(zb) == null)
  }

  test("tiff: tiled layouts decode with edge clipping, all compressions") {
    // 40×30 with 16-px tiles: 3×2 grid, right/bottom tiles padded
    val w = 40; val h = 30
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 31 + i * i % 89) % 256).toByte)
    for (comp <- Seq(1, 5, 8, 32773); pred <- Seq(1, 2); be <- Seq(false, true)) {
      val t = Containers.synthTiff(w, h, 3, rgb, bigEndian = be,
        compression = comp, predictor = pred, tileSize = 16)
      assert(Containers.tiffPixelBytes(t).toSeq == rgb.toSeq,
        s"tiled comp=$comp pred=$pred be=$be")
    }
    // grayscale, tile dims exactly dividing the image
    val gray = Array.tabulate(32 * 16)(i => ((i * 7 + 3) % 256).toByte)
    val gt = Containers.synthTiff(32, 16, 1, gray, compression = 8,
      tileSize = 16)
    val gd = Containers.tiffPixelBytes(gt)
    for (p <- 0 until 32 * 16; c <- 0 until 3) assert(gd(3 * p + c) == gray(p))
    // wrong tile count degrades to null (truncate the offsets array by
    // shrinking TileLength so the grid implies more tiles)
    val bad = Containers.synthTiff(w, h, 3, rgb, tileSize = 16)
    // TileLength (323) value: entries 256,257,258,259,262,277,322,323
    val at323 = 8 + 2 + 7 * 12 + 8
    bad(at323) = 8 // 8-px tile rows => 4-row grid vs 2 rows of offsets
    assert(Containers.tiffPixelBytes(bad) == null)
  }

  test("tiff: WhiteIsZero inverts and palette resolves through the ColorMap") {
    val w = 7; val h = 5
    val gray = Array.tabulate(w * h)(i => (i * 11 + 3).toByte)
    for (be <- Seq(false, true); comp <- Seq(1, 5, 8, 32773)) {
      val wiz = Containers.synthTiff(w, h, 1, gray, bigEndian = be,
        rowsPerStrip = 2, compression = comp, photometric = 0)
      val px = Containers.tiffPixelBytes(wiz)
      assert(px != null, s"wiz be=$be comp=$comp")
      for (i <- 0 until w * h; c <- 0 until 3)
        assert((px(3 * i + c) & 0xFF) == 255 - (gray(i) & 0xFF),
          s"wiz i=$i be=$be comp=$comp")
    }
    // palette: stored byte indexes the 16-bit ColorMap, folded to the
    // high byte (entries replicated 8→16 as real writers emit)
    val cmap = Array.tabulate(3 * 256)(i => ((i % 256) * 7 % 256) * 257)
    val pal = Containers.synthTiff(w, h, 1, gray, bigEndian = true,
      compression = 5, photometric = 3, colorMap = cmap)
    val px = Containers.tiffPixelBytes(pal)
    assert(px != null)
    for (i <- 0 until w * h; c <- 0 until 3)
      assert((px(3 * i + c) & 0xFF) == (gray(i) & 0xFF) * 7 % 256, s"pal i=$i")
    // these photometrics are DECODED profiles now, not gaps
    assert(!Containers.unsupportedImageProfile(pal, "tiff"))
    assert(!Containers.unsupportedImageProfile(
      Containers.synthTiff(w, h, 1, gray, photometric = 0), "tiff"))
    // a palette file whose ColorMap tag is MISSING is damage: retag
    // 320 to an unparsed tag id so the decoder must reject it
    val noMap = pal.clone()
    val n = (noMap(9) & 0xFF) | ((noMap(8) & 0xFF) << 8) // MM count
    val e = (0 until n).map(10 + _ * 12).find(o =>
      (((noMap(o) & 0xFF) << 8) | (noMap(o + 1) & 0xFF)) == 320).get
    noMap(e) = 0x7F.toByte; noMap(e + 1) = 0x00
    assert(Containers.tiffPixelBytes(noMap) == null)
  }

  test("gif: LZW round-trips sequential, interlaced, repetitive, and large streams") {
    val pal = Array.tabulate(3 * 16) { i =>
      val j = i / 3
      (i % 3) match {
        case 0 => (j * 41 + 7) % 256
        case 1 => (j * 73 + 11) % 256
        case _ => (j * 97 + 13) % 256
      }
    }
    def expectRgb(idx: Array[Int]): Seq[Int] =
      idx.flatMap(j => Seq(pal(3 * j), pal(3 * j + 1), pal(3 * j + 2))).toSeq
    def decoded(b: Array[Byte]): Seq[Int] =
      Containers.gifPixelBytes(b).map(java.lang.Byte.toUnsignedInt(_)).toSeq

    // sequential: varied indices force real dictionary growth
    val idx = Array.tabulate(12 * 9)(i => (i * 7 + 3) % 16)
    val gif = Containers.synthGif(12, 9, pal, idx)
    val hdr = Containers.parse(gif)
    assert(hdr.format == "gif" && hdr.width == 12 && hdr.height == 9)
    assert(decoded(gif) == expectRgb(idx))
    // interlaced: same logical pixels through the 4-pass row order
    assert(decoded(Containers.synthGif(12, 9, pal, idx, interlaced = true))
      == expectRgb(idx))
    // repetitive run: the KwKwK (code == dictSize) decode case
    val runs = Array.fill(64)(5) ++ Array.tabulate(32)(i => i % 4)
    assert(decoded(Containers.synthGif(12, 8, pal, runs)) == expectRgb(runs))
    // large image: >255-byte compressed data (sub-block splitting) AND
    // >4096 dictionary entries (CLEAR + reset mid-stream)
    val big = Array.tabulate(200 * 100)(i => ((i * i + i / 3) % 16 + i % 5) % 16)
    assert(decoded(Containers.synthGif(200, 100, pal, big)) == expectRgb(big))
    // tiny 4-entry palette at the minimum 2-bit code size
    val pal4 = Array(0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255)
    val i4 = Array.tabulate(8 * 8)(i => i % 4)
    assert(decoded(Containers.synthGif(8, 8, pal4, i4)) ==
      i4.flatMap(j => Seq(pal4(3 * j), pal4(3 * j + 1), pal4(3 * j + 2))).toSeq)
  }

  test("gif decode degrades to null on corrupt or unsupported inputs") {
    val pal = Array.tabulate(3 * 8)(i => (i * 31) % 256)
    val idx = Array.tabulate(10 * 6)(i => i % 8)
    val gif = Containers.synthGif(10, 6, pal, idx)
    assert(Containers.gifPixelBytes(gif) != null)
    assert(Containers.gifPixelBytes("definitely not a gif".getBytes) == null)
    assert(Containers.gifPixelBytes(gif.take(12)) == null)
    // truncated mid-LZW-stream: indices can't fill the frame
    assert(Containers.gifPixelBytes(gif.take(gif.length - 6)) == null)
    // trailer-only (no image descriptor)
    val noImage = gif.take(13 + 3 * 8) ++ Array(0x3B.toByte)
    assert(Containers.gifPixelBytes(noImage) == null)
  }

  test("jpeg: block-constant decode is integer-exact through the whole chain") {
    // 3×2 blocks (24×16 px) covering the value edges 0/128/255.
    val vals = Array(Array(0, 128, 255), Array(17, 254, 1)) // (by)(bx)
    val jpg = Containers.synthJpegGray(24, 16, (bx, by) => vals(by)(bx))
    val hdr = Containers.parse(jpg)
    assert(hdr.format == "jpeg" && hdr.width == 24 && hdr.height == 16)
    val px = Containers.jpegPixelBytes(jpg)
    assert(px != null && px.length == 24 * 16 * 3)
    for (y <- 0 until 16; x <- 0 until 24; c <- 0 until 3) {
      val expect = vals(y / 8)(x / 8)
      val got = java.lang.Byte.toUnsignedInt(px((y * 24 + x) * 3 + c))
      assert(got == expect, s"($x,$y,$c): got $got expected $expect")
    }
    // Non-multiple-of-8 dims: the edge blocks crop, values still exact.
    val jc = Containers.synthJpegGray(20, 10, (bx, by) => 10 * (by * 3 + bx + 1))
    val pc = Containers.jpegPixelBytes(jc)
    assert(pc.length == 20 * 10 * 3)
    assert(java.lang.Byte.toUnsignedInt(pc((9 * 20 + 19) * 3)) == 60) // block (2,1)
  }

  // zig-zag → natural index and an independent direct-form IDCT over
  // natural-order DEQUANTIZED coefficients — shared by the JPEG specs.
  private val zz = Array( // ITU T.81 Figure A.6
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
  private def refIdct(nat: Array[Int]): Array[Int] = Array.tabulate(64) { i =>
    val y = i / 8; val x = i % 8
    var sum = 0.0
    for (v <- 0 until 8; u <- 0 until 8) {
      val cu = if (u == 0) 1 / math.sqrt(2) else 1.0
      val cv = if (v == 0) 1 / math.sqrt(2) else 1.0
      sum += cu * cv * nat(v * 8 + u) *
        math.cos((2 * x + 1) * u * math.Pi / 16) *
        math.cos((2 * y + 1) * v * math.Pi / 16)
    }
    val p = math.round(sum / 4 + 128).toInt
    math.max(0, math.min(255, p))
  }

  test("jpeg: AC coefficients, ZRL runs, and restart markers decode correctly") {
    val qt = Array.tabulate(64)(i => 1 + i % 7) // non-uniform quant table
    // Three blocks: low-frequency ACs (negative included); a >16 zero
    // run (ZRL) before a high-frequency coef; and a nonzero coefficient
    // AT zigzag index 63 — the no-EOB edge case of T.81 §F.1.2.2.
    val b0 = new Array[Int](64)
    b0(0) = -5; b0(1) = 12; b0(2) = -7; b0(5) = 3
    val b1 = new Array[Int](64)
    b1(0) = 40; b1(20) = -9; b1(45) = 6 // gap of 24 zeros → ZRL + run
    val b2 = new Array[Int](64)
    b2(0) = 9; b2(63) = 2               // full block: EOB must be absent
    val blocks = Array(b0, b1, b2)
    val jpg = Containers.synthJpegGrayCoefs(24, 8, qt, (bx, _) => blocks(bx))
    val px = Containers.jpegPixelBytes(jpg)
    assert(px != null)
    for (bx <- 0 to 2) {
      val nat = new Array[Int](64)
      for (k <- 0 until 64) nat(zz(k)) = blocks(bx)(k) * qt(k)
      val expect = refIdct(nat)
      for (y <- 0 until 8; x <- 0 until 8) {
        val got = java.lang.Byte.toUnsignedInt(px((y * 24 + bx * 8 + x) * 3))
        assert(got == expect(y * 8 + x), s"block $bx ($x,$y)")
      }
    }
    // Restart interval: same logical image, RST markers every 2 MCUs —
    // DC predictors reset at each marker, output identical.
    val vals = Array(7, 250, 13, 99, 200, 5)
    val plain = Containers.synthJpegGray(48, 8, (bx, _) => vals(bx))
    val withRst = Containers.synthJpegGrayCoefs(48, 8, Array.fill(64)(8),
      (bx, _) => { val c = new Array[Int](64); c(0) = vals(bx) - 128; c },
      restartInterval = 2)
    assert(withRst.length > plain.length) // markers actually present
    assert(Containers.jpegPixelBytes(withRst).toSeq ==
      Containers.jpegPixelBytes(plain).toSeq)
  }

  test("jpeg: 3-component YCbCr interleaved MCUs decode and color-convert") {
    // Two MCUs of constant (Y, Cb, Cr) — neutral gray (chroma 128 must
    // leave R=G=B=Y) and a red-saturating triple. Constant blocks with
    // the all-8s table reach the planes integer-exact, so the expected
    // RGB is the BT.601 formula applied to the exact plane values.
    val ycc = Array(Array(128, 128, 128), Array(200, 50, 220)) // (bx)(comp)
    val jpg = Containers.synthJpegYccCoefs(16, 8, Array.fill(64)(8),
      (comp, bx, _) => {
        val c = new Array[Int](64); c(0) = ycc(bx)(comp) - 128; c
      })
    val px = Containers.jpegPixelBytes(jpg)
    assert(px != null && px.length == 16 * 8 * 3)
    def cl(v: Double): Int = math.max(0, math.min(255, math.round(v).toInt))
    for (bx <- 0 to 1; y <- 0 until 8; x <- 0 until 8) {
      val yy = ycc(bx)(0); val cb = ycc(bx)(1); val cr = ycc(bx)(2)
      val d = (y * 16 + bx * 8 + x) * 3
      assert(java.lang.Byte.toUnsignedInt(px(d)) ==
        cl(yy + 1.402 * (cr - 128)), s"R at mcu $bx ($x,$y)")
      assert(java.lang.Byte.toUnsignedInt(px(d + 1)) ==
        cl(yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        s"G at mcu $bx ($x,$y)")
      assert(java.lang.Byte.toUnsignedInt(px(d + 2)) ==
        cl(yy + 1.772 * (cb - 128)), s"B at mcu $bx ($x,$y)")
    }
  }

  test("jpeg: 4:2:0 subsampled MCUs decode with nearest chroma upsampling") {
    // 32×16: 2 MCUs of 4 Y blocks + 1 Cb + 1 Cr each
    val w = 32; val h = 16
    val yVals = Array(10, 60, 110, 160, 210, 240, 30, 80) // luma grid 4×2
    val cbs = Array(128 - 46, 128 + 23)                   // per MCU
    val crs = Array(128 + 46, 128 - 23)
    val q = Array.fill(64)(8)
    val jpeg = Containers.synthJpegYccCoefs(w, h, q,
      (comp, bx, by) => {
        val c = new Array[Int](64)
        c(0) = (comp match {
          case 0 => yVals(by * 4 + bx)
          case 1 => cbs(bx)
          case _ => crs(bx)
        }) - 128
        c
      },
      sampling = Seq((2, 2), (1, 1), (1, 1)))
    val px = Containers.jpegPixelBytes(jpeg)
    assert(px != null)
    def cl(v: Double): Int = {
      val r = math.round(v).toInt
      if (r < 0) 0 else if (r > 255) 255 else r
    }
    for (y <- 0 until h; x <- 0 until w) {
      val yv = yVals((y / 8) * 4 + x / 8)
      val cb = cbs(x / 16) - 128
      val cr = crs(x / 16) - 128
      val d = (y * w + x) * 3
      assert((px(d) & 0xFF) == cl(yv + 1.402 * cr), s"R ($x,$y)")
      assert((px(d + 1) & 0xFF) == cl(yv - 0.344136 * cb - 0.714136 * cr),
        s"G ($x,$y)")
      assert((px(d + 2) & 0xFF) == cl(yv + 1.772 * cb), s"B ($x,$y)")
    }
    // 4:2:2 (2×1) also decodes: chroma halved horizontally only
    val jpeg422 = Containers.synthJpegYccCoefs(16, 8, q,
      (comp, bx, by) => {
        val c = new Array[Int](64)
        c(0) = (if (comp == 0) 40 + 50 * bx else 128 + 23 * (comp - 1)) - 128
        c
      },
      sampling = Seq((2, 1), (1, 1), (1, 1)))
    val px422 = Containers.jpegPixelBytes(jpeg422)
    assert(px422 != null)
    val d0 = 0
    assert((px422(d0) & 0xFF) == cl(40 + 1.402 * 23)) // Y=40, cr offset +23
    // sampling factors above 2 degrade to null
    val bad = jpeg.clone()
    // SOF0 is the 3rd segment (SOI, DQT(69), SOF0): comp 1 h/v byte
    // offset: 2 + 69 + 4 + 6 + 1 = … locate dynamically instead
    var off = 2; var sofAt = -1
    while (sofAt < 0) {
      val len = ((bad(off + 2) & 0xFF) << 8) | (bad(off + 3) & 0xFF)
      if ((bad(off + 1) & 0xFF) == 0xC0) sofAt = off
      else off += 2 + len
    }
    bad(sofAt + 4 + 6 + 1) = 0x33 // 3×3 sampling: out of profile
    assert(Containers.jpegPixelBytes(bad) == null)
  }

  test("jpeg: 4-component Adobe CMYK and YCCK decode with K composition") {
    // inverted-CMYK (transform 0): rgb = stored_cmy · stored_k / 255,
    // truncating — two blocks covering full-ink and mixed values
    val cmyk = Array(Array(255, 128, 0, 255), Array(40, 200, 90, 130))
    val jpg = Containers.synthJpegCmyk(16, 8,
      (comp, bx, _) => cmyk(bx)(comp))
    val px = Containers.jpegPixelBytes(jpg)
    assert(px != null && px.length == 16 * 8 * 3)
    for (bx <- 0 to 1; y <- 0 until 8; x <- 0 until 8; c <- 0 to 2) {
      val d = (y * 16 + bx * 8 + x) * 3
      assert((px(d + c) & 0xFF) == cmyk(bx)(c) * cmyk(bx)(3) / 255,
        s"cmyk mcu $bx ($x,$y) ch $c")
    }
    // YCCK (transform 2): BT.601 reconstruction then the K composition
    val ycck = Array(200, 128 - 46, 128 + 23, 180) // Y, Cb, Cr, K
    val jy = Containers.synthJpegCmyk(8, 8,
      (comp, _, _) => ycck(comp), transform = 2)
    val py = Containers.jpegPixelBytes(jy)
    assert(py != null)
    def cl(v: Double): Int = {
      val r = math.round(v).toInt
      if (r < 0) 0 else if (r > 255) 255 else r
    }
    val er = cl(ycck(0) + 1.402 * (ycck(2) - 128)) * ycck(3) / 255
    val eg = cl(ycck(0) - 0.344136 * (ycck(1) - 128)
      - 0.714136 * (ycck(2) - 128)) * ycck(3) / 255
    val eb = cl(ycck(0) + 1.772 * (ycck(1) - 128)) * ycck(3) / 255
    for (p <- 0 until 64) {
      assert((py(3 * p) & 0xFF) == er, s"ycck R $p")
      assert((py(3 * p + 1) & 0xFF) == eg, s"ycck G $p")
      assert((py(3 * p + 2) & 0xFF) == eb, s"ycck B $p")
    }
    // transform 1 (YCbCr) is 3-component-only: malformed on 4 → null
    val t1 = Containers.synthJpegCmyk(8, 8, (c, _, _) => ycck(c),
      transform = 1)
    assert(Containers.jpegPixelBytes(t1) == null)
    // baseline 4-comp is IN profile now; 12-bit precision is not
    assert(!Containers.unsupportedImageProfile(jpg, "jpeg"))
  }

  test("jpeg: a stuffed 0xFF00 entropy byte decodes transparently") {
    // Crafted to FORCE a 0xFF data byte: with DC=64 (category 7) the
    // entropy prefix is exactly 16 bits — dc code (1) + 7 diff bits +
    // three ZRLs (6) + the (14,8) symbol (2) — so the following AC
    // value 255 (eight 1-bits) fills a whole byte: 0xFF, which the
    // encoder must stuff with 0x00 and the decoder must unstuff.
    val block = new Array[Int](64)
    block(0) = 64; block(63) = 255
    val qt = Array.fill(64)(3)
    val jpg = Containers.synthJpegGrayCoefs(8, 8, qt, (_, _) => block)
    val stuffedAt = (0 until jpg.length - 1).find(i =>
      (jpg(i) & 0xFF) == 0xFF && jpg(i + 1) == 0x00)
    assert(stuffedAt.isDefined, "crafted stream contains no stuffed byte")
    val px = Containers.jpegPixelBytes(jpg)
    assert(px != null)
    val nat = new Array[Int](64)
    for (k <- 0 until 64) nat(zz(k)) = block(k) * qt(k)
    val expect = refIdct(nat)
    for (y <- 0 until 8; x <- 0 until 8)
      assert(java.lang.Byte.toUnsignedInt(px((y * 8 + x) * 3)) ==
        expect(y * 8 + x), s"($x,$y)")
  }

  test("jpeg decode degrades to null on corrupt or unsupported inputs") {
    val jpg = Containers.synthJpegGray(16, 8, (bx, _) => 100 + bx)
    assert(Containers.jpegPixelBytes(jpg) != null)
    assert(Containers.jpegPixelBytes("not a jpeg".getBytes) == null)
    assert(Containers.jpegPixelBytes(jpg.take(20)) == null)       // truncated tables
    assert(Containers.jpegPixelBytes(jpg.take(jpg.length - 4)) == null) // truncated stream
    def patched(find: Int => Boolean, at: Int => Int, v: Byte): Array[Byte] = {
      val c = jpg.clone()
      val i = (0 until c.length - 1).find(j =>
        (c(j) & 0xFF) == 0xFF && find(c(j + 1) & 0xFF)).get
      c(at(i)) = v; c
    }
    // SOF0 → SOF2 with a baseline Ss=0..63 scan: an INVALID progressive
    // stream (DC scans must be DC-only) — degrades, not misdecodes.
    assert(Containers.jpegPixelBytes(
      patched(_ == 0xC0, _ + 1, 0xC2.toByte)) == null)
    // SOF0 → SOF9 (arithmetic coding): unsupported profile.
    assert(Containers.jpegPixelBytes(
      patched(_ == 0xC0, _ + 1, 0xC9.toByte)) == null)
    // 3×1 sampling: outside the 1–2 profile (hv byte: FF C0 len2
    // prec1 h2 w2 n1 id1 → +11).
    assert(Containers.jpegPixelBytes(
      patched(_ == 0xC0, _ + 11, 0x31.toByte)) == null)
    // but a DECLARED 2×2 on a single-component scan decodes: per
    // T.81 a one-component scan is non-interleaved (MCU = one block),
    // so the sampling factors are irrelevant — libjpeg does the same
    val gray22 = patched(_ == 0xC0, _ + 11, 0x22.toByte)
    val px22 = Containers.jpegPixelBytes(gray22)
    assert(px22 != null &&
      px22.toSeq == Containers.jpegPixelBytes(jpg).toSeq)
    // Forged SOF dims that pass the 2^30 OUTPUT cap but would blow the
    // 4-byte-per-sample coefficient planes: reject before allocation.
    val big = jpg.clone()
    val sof = (0 until big.length - 1).find(j =>
      (big(j) & 0xFF) == 0xFF && (big(j + 1) & 0xFF) == 0xC0).get
    // height := 5461, width := 65535  (h at sof+5..6, w at sof+7..8)
    big(sof + 5) = 0x15.toByte; big(sof + 6) = 0x55.toByte
    big(sof + 7) = 0xFF.toByte; big(sof + 8) = 0xFF.toByte
    assert(Containers.jpegPixelBytes(big) == null)
  }

  test("imageDecodeErr: every class is reachable and deterministic") {
    val px = Array.tabulate(8 * 8 * 3)(i => (i * 19 % 256).toByte)
    val png = Containers.synthPng(8, 8, px, _ % 5)
    assert(Multimodal.imageDecodeErr(Containers.synthBmp24(8, 8, px)) == "ok")
    assert(Multimodal.imageDecodeErr(png) == "ok")
    assert(Multimodal.imageDecodeErr(Array.emptyByteArray) == "empty")
    assert(Multimodal.imageDecodeErr("no magic here at all".getBytes)
      == "unknown_container")
    assert(Multimodal.imageDecodeErr(
      Containers.synthWav(8000, 1, 16, new Array[Byte](32))) == "not_image")
    // every PNG profile decodes now, so any undecodable PNG is
    // corruption: a 16-bit depth patch over 8-bit data (short IDAT),
    // an interlace-flag flip (pass-structure length mismatch), and a
    // truncation all classify as corrupt
    val adam7 = png.clone(); adam7(28) = 1.toByte
    assert(Multimodal.imageDecodeErr(adam7) == "corrupt")
    val deep = png.clone(); deep(24) = 16.toByte
    assert(Multimodal.imageDecodeErr(deep) == "corrupt")
    assert(Multimodal.imageDecodeErr(png.dropRight(20)) == "corrupt")
    // arithmetic-coded JPEG is a profile gap; a truncated baseline is
    // corrupt (progressive SOF2 decodes now, so it is no longer one)
    val jpg = Containers.synthJpegGray(16, 8, (bx, _) => 50 + bx)
    val sof = (0 until jpg.length - 1).indexWhere(i =>
      (jpg(i) & 0xFF) == 0xFF && (jpg(i + 1) & 0xFF) == 0xC0)
    val arith = jpg.clone(); arith(sof + 1) = 0xC9.toByte
    assert(Multimodal.imageDecodeErr(arith) == "unsupported_profile")
    assert(Multimodal.imageDecodeErr(jpg.dropRight(4)) == "corrupt")
    // JPEG-in-TIFF is a profile gap; a bad strip count is corrupt
    val tif = Containers.synthTiff(6, 5, 3,
      Array.tabulate(90)(i => (i * 13 % 256).toByte))
    val jt = tif.clone(); jt(8 + 2 + 3 * 12 + 8) = 7
    assert(Multimodal.imageDecodeErr(jt) == "unsupported_profile")
    assert(Multimodal.imageDecodeErr(tif.dropRight(5)) == "corrupt")
    // WhiteIsZero (0) DECODES now; separations (5) stays a profile gap
    val gt0 = Containers.synthTiff(6, 5, 1,
      Array.tabulate(30)(i => (i * 13 % 256).toByte))
    // Photometric (262) is the 5th entry: value at 8 + 2 + 4*12 + 8
    val wz = gt0.clone(); wz(8 + 2 + 4 * 12 + 8) = 0
    assert(Multimodal.imageDecodeErr(wz) == "ok")
    val sep = gt0.clone(); sep(8 + 2 + 4 * 12 + 8) = 5
    assert(Multimodal.imageDecodeErr(sep) == "unsupported_profile")
    // 12-bit baseline DECODES now (an 8-bit-built stream retagged to
    // precision 12 is still a well-formed 12-bit stream — the shared
    // 8-bit DQT is legal there); only the in-between precisions stay
    // profile gaps
    val prec12 = jpg.clone(); prec12(sof + 4) = 12.toByte
    assert(Multimodal.imageDecodeErr(prec12) == "ok")
    val prec10 = jpg.clone(); prec10(sof + 4) = 10.toByte
    assert(Multimodal.imageDecodeErr(prec10) == "unsupported_profile")
    // truncation AT the SOF payload proves nothing about the profile:
    // the probe must NOT flag a cut-off frame header as a profile gap
    // (the classifier itself calls such a blob unknown_container — the
    // magic alone can't name a format — so probe directly)
    assert(!Containers.unsupportedImageProfile(jpg.take(sof + 4), "jpeg"))
    assert(Multimodal.imageDecodeErr(jpg.take(sof + 4)) == "unknown_container")
  }

  test("bmp and png encodings of the same logical pixels decode identically") {
    // The mixed demoPixelCorpus contract: format is an encoding detail,
    // decoded pixels are a pure function of the id.
    val id = 7L
    val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
    val px = Array.tabulate(w * h * 3)(i => ((id * 31 + i.toLong * 7) % 256).toByte)
    val viaBmp = Multimodal.imagePixelBytes(Containers.synthBmp24(w, h, px))
    val viaPng = Multimodal.imagePixelBytes(
      Containers.synthPng(w, h, px, row => row % 5))
    assert(viaBmp.toSeq == px.toSeq)
    assert(viaPng.toSeq == px.toSeq)
  }

  test("bmp nearest-neighbor resize picks true source pixels") {
    // 4x4 with pixel (x,y) = value x+4*y in all three channels.
    val px = Array.tabulate(4 * 4 * 3)(i => (i / 3).toByte)
    val half = Containers.resizeBmp(Containers.synthBmp24(4, 4, px), 2)
    val hh = Containers.parse(half)
    assert(hh.width == 2 && hh.height == 2)
    val out = Containers.bmpPixelBytes(half)
    // nearest-neighbor keeps pixels (0,0)=0, (2,0)=2, (0,2)=8, (2,2)=10
    assert(out.grouped(3).map(_.head.toInt).toSeq == Seq(0, 2, 8, 10))
    assert(Containers.resizeBmp("junk".getBytes, 2) == null)
    // PNG path: same logical pixels, decode→resize→re-encode→decode
    // picks the identical nearest-neighbor sources.
    val phalf = Containers.resizePng(
      Containers.synthPng(4, 4, px, row => row % 5), 2)
    assert(Containers.parse(phalf).format == "png")
    val pout = Containers.pngPixelBytes(phalf)
    assert(pout.grouped(3).map(_.head.toInt).toSeq == Seq(0, 2, 8, 10))
    assert(Containers.resizePng("junk".getBytes, 2) == null)
    // GIF path: nearest-neighbor on the INDEX grid, palette preserved
    val gpal = Array.tabulate(3 * 16)(i => (i * 17) % 256)
    val gidx = Array.tabulate(4 * 4)(identity) // index = pixel position
    val ghalf = Containers.resizeGif(Containers.synthGif(4, 4, gpal, gidx), 2)
    assert(Containers.parse(ghalf).format == "gif")
    val (gw, gh, gp2, gi2) = Containers.gifDecodeIndexed(ghalf)
    assert(gw == 2 && gh == 2 && gp2.toSeq == gpal.toSeq)
    assert(gi2.toSeq == Seq(0, 2, 8, 10))
    assert(Containers.resizeGif("junk".getBytes, 2) == null)
  }

  test("wav sample decode: s16le reassembly incl. -32768 edge") {
    val samples = Array[Short](0, 1, -1, 32767, -32768, 12345, -12345)
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, j) =>
      bytes(2 * j) = (s & 0xFF).toByte
      bytes(2 * j + 1) = ((s >> 8) & 0xFF).toByte
    }
    val wav = Containers.synthWav(16000, 1, 16, bytes)
    assert(Containers.wavSamples(wav).toSeq == samples.toSeq)
    // unsupported depths (12-bit) and non-RIFF bytes → null
    assert(Containers.wavSamples(Containers.synthWav(8000, 1, 12, bytes)) == null)
    assert(Containers.wavSamples("RIFFnope".getBytes) == null)
  }

  test("tar: ustar round-trip with checksum verification and padding") {
    val files = Seq(
      "000000.txt" -> Array.tabulate(20)(i => (i * 7).toByte),
      "000000.cls" -> Array[Byte](42),
      "dir/b.bin" -> Array.tabulate(513)(i => (i * 3).toByte), // spans blocks
      "empty.txt" -> Array.emptyByteArray)
    val tar = Containers.synthTar(files)
    assert(tar.length % 512 == 0)
    val entries = Containers.tarEntries(tar)
    assert(entries != null && entries.length == 4)
    for (((name, data), e) <- files.zip(entries)) {
      assert(e.name == name && e.size == data.length && e.typeflag == '0')
      val got = java.util.Arrays.copyOfRange(tar, e.offset.toInt,
        (e.offset + e.size).toInt)
      assert(got.toSeq == data.toSeq, name)
    }
    // checksum mismatch (one flipped header byte) degrades to null
    val bad = tar.clone(); bad(10) = (bad(10) + 1).toByte
    assert(Containers.tarEntries(bad) == null)
    // truncated member data degrades to null
    assert(Containers.tarEntries(tar.take(600)) == null)
    // empty archive (just the end blocks) parses to zero entries
    assert(Containers.tarEntries(new Array[Byte](1024)).isEmpty)
    // >100-byte paths round-trip through the POSIX prefix field
    val longPath = ("deep/" * 25) + "sample/000042.txt" // 142 chars
    val lt = Containers.synthTar(Seq(longPath -> Array[Byte](1, 2, 3)))
    val le = Containers.tarEntries(lt)
    assert(le != null && le.head.name == longPath && le.head.size == 3)
  }

  test("tar: GNU incremental dumpdirs parse, volume labels skip") {
    val listing = new java.io.ByteArrayOutputStream()
    for ((c, nm) <- Seq(('Y', "a.txt"), ('N', "b.bin"), ('D', "sub"))) {
      listing.write(c)
      listing.write(nm.getBytes("UTF-8"))
      listing.write(0)
    }
    listing.write(0) // GNU's empty terminator record
    val shard =
      Containers.synthTarSpecialMember("vol-7", 'V', Array.emptyByteArray) ++
        Containers.synthTarSpecialMember("home/d/", 'D', listing.toByteArray) ++
        Containers.synthTarSpecialMember("f.bin", '0',
          Array.tabulate(33)(i => (i * 5).toByte)) ++
        new Array[Byte](1024)
    // the entry walk skips the label, keeps the dumpdir and the file
    val es = Containers.tarEntries(shard)
    assert(es != null && es.map(_.typeflag).toSeq == Seq('D', '0'))
    val dds = Containers.tarDumpdirs(shard)
    assert(dds != null && dds.length == 1)
    assert(dds(0).dir == "home/d/")
    assert(dds(0).entries.toSeq ==
      Seq(('Y', "a.txt"), ('N', "b.bin"), ('D', "sub")))
    // classification: incremental shards decode now
    assert(Multimodal.mediaDecodeClass(shard) == ("tar", "ok"))
    // rename records ('R' from / 'T' to) and the 'X' marker are part
    // of the GNU payload — parse-accepted, not a quarantine
    val ren = new java.io.ByteArrayOutputStream()
    for ((c, nm) <- Seq(('R', "old/dir"), ('T', "new/dir"), ('X', "tmp"),
        ('Y', "kept.txt"))) {
      ren.write(c); ren.write(nm.getBytes("UTF-8")); ren.write(0)
    }
    val renShard = Containers.synthTarSpecialMember("r/", 'D',
      ren.toByteArray) ++ new Array[Byte](1024)
    val renDds = Containers.tarDumpdirs(renShard)
    assert(renDds != null && renDds(0).entries.length == 4)
    assert(renDds(0).entries.map(_._1).toSeq == Seq('R', 'T', 'X', 'Y'))
    // a listing with an unknown control byte quarantines the parse
    val bad = Containers.synthTarSpecialMember("d/", 'D',
      Array[Byte]('Q', 'x', 0)) ++ new Array[Byte](1024)
    assert(Containers.tarDumpdirs(bad) == null)
    // an unterminated name quarantines too
    val unterm = Containers.synthTarSpecialMember("d/", 'D',
      Array[Byte]('Y', 'x', 'y')) ++ new Array[Byte](1024)
    assert(Containers.tarDumpdirs(unterm) == null)
    // MULTIVOLUME stays the named tar gap
    val mv = Containers.synthTarSpecialMember("part", 'M',
      Array.tabulate(10)(i => i.toByte)) ++ new Array[Byte](1024)
    assert(Multimodal.mediaDecodeClass(mv) == ("tar", "unsupported_profile"))
  }

  test("tar: PAX and GNU-longname layouts recover full paths") {
    // a >100-byte dotted-directory path: the embedded ustar name MUST
    // truncate, so only honoring the extension records recovers it
    val dir = "v1.2/" + "d" * 92 + "/"
    val files = Seq(
      dir + "000000.txt" -> Array.tabulate(20)(i => (i * 7).toByte),
      dir + "000000.cls" -> Array[Byte](42),
      "short.bin" -> Array.tabulate(5)(i => (i * 3).toByte))
    for (style <- Seq("pax", "gnu")) {
      val tar = Containers.synthTar(files, style)
      val entries = Containers.tarEntries(tar)
      assert(entries != null && entries.length == 3, style)
      // extension members (g/x/L) are consumed, never emitted
      assert(entries.forall(_.typeflag == '0'), style)
      for (((name, data), e) <- files.zip(entries)) {
        assert(e.name == name, s"$style: ${e.name}")
        val got = java.util.Arrays.copyOfRange(tar, e.offset.toInt,
          (e.offset + e.size).toInt)
        assert(got.toSeq == data.toSeq, s"$style: $name")
      }
    }
    // each 'x' override applies to exactly ONE file (and the leading
    // 'g' global header's comment record is parsed and skipped)
    val paxTar = Containers.synthTar(Seq(
      "a.txt" -> Array[Byte](1), "b.txt" -> Array[Byte](2)), "pax")
    val pe = Containers.tarEntries(paxTar)
    assert(pe.map(_.name).toSeq == Seq("a.txt", "b.txt"))
    // malformed PAX records (no digit length prefix) = corrupt shard
    def retype(t: Array[Byte], flag: Byte): Array[Byte] = {
      val c = t.clone(); c(156) = flag
      java.util.Arrays.fill(c, 148, 156, ' '.toByte)
      var sum = 0L
      for (k <- 0 until 512) sum += c(k) & 0xFF
      System.arraycopy("%06o".format(sum).getBytes, 0, c, 148, 6)
      c(154) = 0; c(155) = ' '.toByte
      c
    }
    val plain = Containers.synthTar(Seq(
      "junk.bin" -> Array.tabulate(20)(i => (i * 7 + 65).toByte)))
    assert(Containers.tarEntries(retype(plain, 'x')) == null)
  }

  test("warc: per-record gzip members expand like Common Crawl shards") {
    val recs = Seq(
      ("response", "https://ex.test/1", Array.tabulate(30)(i => (i * 5).toByte)),
      ("request", "https://ex.test/1", "GET / HTTP/1.1".getBytes.map(identity)),
      ("metadata", "", Array[Byte]('x', '\r', '\n', 'y')))
    val plain = Containers.synthWarc(recs)
    val gz = Containers.synthWarc(recs, gzipPerRecord = true)
    assert((gz(0) & 0xFF) == 0x1f && (gz(1) & 0xFF) == 0x8b)
    // multi-member gunzip reproduces the plain bytes exactly
    assert(Containers.crawlInflate(gz).toSeq == plain.toSeq)
    // identity on plain input; null on a truncated member
    assert(Containers.crawlInflate(plain) eq plain)
    assert(Containers.crawlInflate(gz.take(gz.length - 4)) == null)
    val got = Containers.warcRecords(Containers.crawlInflate(gz))
    assert(got != null && got.length == 3 &&
      got.map(_.warcType).toSeq == Seq("response", "request", "metadata"))
  }

  test("warc: mixed-member gz sheds interlopers instead of corrupting") {
    val rec1 = Containers.synthWarc(Seq(
      ("response", "https://ex.test/1", Array.tabulate(30)(i => (i * 5).toByte))),
      gzipPerRecord = true)
    val rec2 = Containers.synthWarc(Seq(
      ("request", "https://ex.test/1", Array.tabulate(12)(i => (i * 9).toByte))),
      gzipPerRecord = true)
    val interloper = Containers.synthGzipMember(
      Array.tabulate(25)(i => (i * 7 + 3).toByte))
    val mixed = rec1 ++ interloper ++ rec2
    // member split sees all three; the tolerant walk keeps the records
    val members = Containers.gzipMembers(mixed)
    assert(members != null && members.length == 3)
    val plain = Containers.crawlInflate(mixed)
    val recs = Containers.warcRecords(plain)
    assert(recs != null && recs.map(_.warcType).toSeq == Seq("response", "request"))
    // classifier: distinct reason, not corrupt — and not plain ok
    assert(Multimodal.mediaDecodeClass(mixed) == ("warc", "ok_skipped_members"))
    // a gzip stream with NO warc members stays generic gunzip
    val generic = Containers.synthGzipMember("hello world".getBytes("US-ASCII"))
    assert(Containers.crawlInflate(generic).toSeq ==
      "hello world".getBytes("US-ASCII").toSeq)
    assert(Multimodal.mediaDecodeClass(generic) == ("gzip", "unknown_container"))
    // damage inside ANY member is corruption, not recovery
    val damaged = mixed.clone()
    damaged(rec1.length + 12) = (damaged(rec1.length + 12) ^ 0x7).toByte
    assert(Containers.gzipMembers(damaged) == null)
    assert(Multimodal.mediaDecodeClass(damaged) == ("gzip", "corrupt"))
    // trailing non-member bytes after sound members are end-of-stream
    // (GZIPInputStream parity: readTrailer treats a failed next-header
    // parse as EOF), NOT corruption — archives get padded in the wild
    val padded = rec1 ++ rec2 ++ Array.fill[Byte](7)(0x20)
    val padMembers = Containers.gzipMembers(padded)
    assert(padMembers != null && padMembers.length == 2)
    val padRecs = Containers.warcRecords(Containers.crawlInflate(padded))
    assert(padRecs != null &&
      padRecs.map(_.warcType).toSeq == Seq("response", "request"))
    assert(Multimodal.mediaDecodeClass(padded) == ("warc", "ok"))
    // ...but a stream that fails INSIDE its first member stays corrupt
    assert(Containers.gzipMembers(rec1.take(rec1.length - 4)) == null)
  }

  test("WARC digest audit sheds interloper members like the other WARC readers") {
    import spark.implicits._
    val rec1 = Containers.synthWarc(Seq(
      ("response", "https://ex.test/1", Array.tabulate(30)(i => (i * 5).toByte))),
      gzipPerRecord = true)
    val rec2 = Containers.synthWarc(Seq(
      ("request", "https://ex.test/1", Array.tabulate(12)(i => (i * 9).toByte))),
      gzipPerRecord = true)
    val interloper = Containers.synthGzipMember(
      Array.tabulate(25)(i => (i * 7 + 3).toByte))
    val mixed = rec1 ++ interloper ++ rec2
    val got = Multimodal.warcDigestAudit(spark,
      Seq(Multimodal.MediaFile(1L, "warc", mixed)).toDS()).collect()
    assert(got.length == 1 && got(0).n_records == 2, got.toSeq)
  }

  test("warcHttpStats routes through the member-aware crawl walk") {
    import spark.implicits._
    // an HTTP response inside a WARC record, framed three ways: plain
    // per-record gzip, gzip with a non-record interloper member, and
    // a zstd frame — the HTTP parse must survive all three framings
    // (the interloper/zstd paths exist only via crawlInflate)
    val httpBytes = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Length: 5\r\n\r\nhello").getBytes("US-ASCII")
    val rec = Containers.synthWarc(
      Seq(("response", "https://ex.test/h", httpBytes)), gzipPerRecord = true)
    val interloper = Containers.synthGzipMember(
      Array.tabulate(25)(i => (i * 7 + 3).toByte))
    val plainWarc = Containers.synthWarc(
      Seq(("response", "https://ex.test/h", httpBytes)))
    val corpus = Seq(
      Multimodal.MediaFile(1L, "crawl", rec),
      Multimodal.MediaFile(2L, "crawl", interloper ++ rec),
      Multimodal.MediaFile(3L, "crawl",
        graft.operators.Zstd.synthRawFrame(plainWarc, checksum = true))).toDS()
    val got = Multimodal.warcHttpStats(spark, corpus).collect()
      .map(r => r.media_id -> r).toMap
    for (id <- Seq(1L, 2L, 3L)) {
      assert(got(id).n_records == 1L, s"id=$id records")
      assert(got(id).n_ok == 1L && got(id).n_html == 1L, s"id=$id parse")
      assert(got(id).body_bytes == 5L, s"id=$id body")
    }
  }

  test("warc: record walk round-trip, case-insensitive headers, degrades") {
    val recs = Seq(
      ("response", "https://ex.test/1", Array.tabulate(30)(i => (i * 5).toByte)),
      ("request", "https://ex.test/1", "GET / HTTP/1.1".getBytes.map(identity)),
      ("metadata", "", Array[Byte]('x', '\r', '\n', 'y'))) // CRLF inside payload
    val warc = Containers.synthWarc(recs)
    val got = Containers.warcRecords(warc)
    assert(got != null && got.length == 3)
    for (((tpe, uri, payload), r) <- recs.zip(got)) {
      assert(r.warcType == tpe && r.targetUri == uri)
      assert(r.contentLength == payload.length)
      val body = java.util.Arrays.copyOfRange(warc, r.payloadOffset.toInt,
        (r.payloadOffset + r.contentLength).toInt)
      assert(body.toSeq == payload.toSeq)
    }
    // header keys are case-insensitive per the WARC spec
    val lower = new String(warc, "ISO-8859-1")
      .replace("Content-Length", "content-LENGTH")
      .getBytes("ISO-8859-1")
    assert(Containers.warcRecords(lower).length == 3)
    // not a WARC / truncated content / bogus length degrade to null
    assert(Containers.warcRecords("HTTP/1.1 200 OK\r\n".getBytes) == null)
    assert(Containers.warcRecords(warc.take(warc.length - 10)) == null)
    val noLen = new String(warc, "ISO-8859-1")
      .replace("Content-Length", "X-Length").getBytes("ISO-8859-1")
    assert(Containers.warcRecords(noLen) == null)
    // hostile near-Long.MaxValue Content-Length must not wrap past the
    // truncation guard and escape as a poisoned record
    val hostile = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 9223372036854775707\r\n\r\n").getBytes("US-ASCII")
    assert(Containers.warcRecords(hostile) == null)
  }

  test("wav: PCM depths 8/24/32, float32, and extensible headers decode") {
    val n = 64
    // 8-bit unsigned: recentered and scaled
    val u8s = Array.tabulate(n)(j => ((j * 37 + 5) % 256).toByte)
    val w8 = Containers.wavSamples(Containers.synthWav(8000, 1, 8, u8s))
    assert(w8 != null && w8.length == n)
    for (j <- 0 until n) assert(w8(j) == (((u8s(j) & 0xFF) - 128) << 8).toShort)
    // 24-bit: top 16 bits kept (arithmetic shift = floor)
    val b24 = new Array[Byte](3 * n)
    val v24 = Array.tabulate(n)(j => (j * 524287 + 12345) % (1 << 24))
    for (j <- 0 until n) {
      b24(3 * j) = (v24(j) & 0xFF).toByte
      b24(3 * j + 1) = ((v24(j) >> 8) & 0xFF).toByte
      b24(3 * j + 2) = ((v24(j) >> 16) & 0xFF).toByte
    }
    val w24 = Containers.wavSamples(Containers.synthWav(8000, 1, 24, b24))
    assert(w24 != null && w24.length == n)
    for (j <- 0 until n)
      assert(w24(j) == (((v24(j) << 8) >> 16)).toShort, s"s24 $j")
    // 32-bit s32le: top 16 bits
    val b32 = java.nio.ByteBuffer.allocate(4 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val v32 = Array.tabulate(n)(j => j * 67108859 + 99)
    v32.foreach(b32.putInt)
    val w32 = Containers.wavSamples(Containers.synthWav(8000, 1, 32, b32.array()))
    assert(w32 != null && w32.length == n)
    for (j <- 0 until n) assert(w32(j) == (v32(j) >> 16).toShort, s"s32 $j")
    // float32 (format 3): scaled by 2^15, clamped at full scale
    val fb = java.nio.ByteBuffer.allocate(4 * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0.5f, -0.25f, 1.5f, -2.0f).foreach(fb.putFloat)
    val wf = Containers.wavSamples(
      Containers.synthWav(8000, 1, 32, fb.array(), format = 3))
    assert(wf.toSeq == Seq[Short](16384, -8192, 32767, -32768))
    // WAVE_FORMAT_EXTENSIBLE: real code resolved from the SubFormat GUID
    val s16 = new Array[Byte](2 * n)
    for (j <- 0 until n) {
      val v = j * 1021 - 32000
      s16(2 * j) = (v & 0xFF).toByte; s16(2 * j + 1) = ((v >> 8) & 0xFF).toByte
    }
    val ext = Containers.synthWavExtensible(16000, 1, 16, s16)
    val we = Containers.wavSamples(ext)
    assert(we != null && we.length == n)
    for (j <- 0 until n) assert(we(j) == (j * 1021 - 32000).toShort, s"ext $j")
    // extensible G.711 μ-law subformat also resolves
    val ug = Array.tabulate(n)(j => ((j * 13) % 256).toByte)
    val extU = Containers.synthWavExtensible(8000, 1, 8, ug, subFormat = 7)
    val wu = Containers.wavSamples(extU)
    assert(wu != null &&
      wu.toSeq == ug.toSeq.map(v => Containers.ulawToLinear(v & 0xFF).toShort))
  }

  test("wav: javax.sound-written files decode (the JDK's own WAV writer)") {
    import javax.sound.sampled._
    def writeWav(fmt: AudioFormat, data: Array[Byte]): Array[Byte] = {
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt,
        data.length / fmt.getFrameSize)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val n = 50
    // 16-bit signed little-endian mono
    val s16 = new Array[Byte](2 * n)
    for (j <- 0 until n) {
      val v = j * 1291 - 31000
      s16(2 * j) = (v & 0xFF).toByte; s16(2 * j + 1) = ((v >> 8) & 0xFF).toByte
    }
    val wav16 = writeWav(new AudioFormat(16000f, 16, 1, true, false), s16)
    val d16 = Containers.wavSamples(wav16)
    assert(d16 != null && d16.length == n)
    for (j <- 0 until n) assert(d16(j) == (j * 1291 - 31000).toShort)
    // 8-bit unsigned mono
    val u8d = Array.tabulate(n)(j => ((j * 31 + 7) % 256).toByte)
    val wav8 = writeWav(new AudioFormat(8000f, 8, 1, false, false), u8d)
    val d8 = Containers.wavSamples(wav8)
    assert(d8 != null && d8.length == n)
    for (j <- 0 until n) assert(d8(j) == (((u8d(j) & 0xFF) - 128) << 8).toShort)
    // 24-bit signed little-endian mono
    val s24 = new Array[Byte](3 * n)
    for (j <- 0 until n) {
      val v = (j * 524287 + 777) % (1 << 24)
      s24(3 * j) = (v & 0xFF).toByte
      s24(3 * j + 1) = ((v >> 8) & 0xFF).toByte
      s24(3 * j + 2) = ((v >> 16) & 0xFF).toByte
    }
    val wav24 = writeWav(new AudioFormat(16000f, 24, 1, true, false), s24)
    val d24 = Containers.wavSamples(wav24)
    assert(d24 != null && d24.length == n)
    for (j <- 0 until n) {
      val v = (j * 524287 + 777) % (1 << 24)
      assert(d24(j) == ((v << 8) >> 16).toShort, s"jdk s24 $j")
    }
  }

  test("g711: ITU table landmarks and wav round-trip for both laws") {
    // μ-law landmark values (G.711 ×4-scaled convention):
    assert(Containers.ulawToLinear(0xFF) == 0)       // +0
    assert(Containers.ulawToLinear(0x7F) == 0)       // -0
    assert(Containers.ulawToLinear(0x80) == 32124)   // max positive
    assert(Containers.ulawToLinear(0x00) == -32124)  // max negative
    // A-law landmarks (sign bit set after 0x55 toggle = positive):
    assert(Containers.alawToLinear(0xD5) == 8)
    assert(Containers.alawToLinear(0x55) == -8)
    assert(Containers.alawToLinear(0xAA) == 32256)
    assert(Containers.alawToLinear(0x2A) == -32256)
    // Full byte-range round trip through real RIFF containers.
    val bytes = Array.tabulate(256)(_.toByte)
    val mu = Containers.wavSamples(Containers.synthWav(8000, 1, 8, bytes, 7))
    val al = Containers.wavSamples(Containers.synthWav(8000, 1, 8, bytes, 6))
    for (j <- 0 until 256) {
      assert(mu(j) == Containers.ulawToLinear(j).toShort, s"ulaw $j")
      assert(al(j) == Containers.alawToLinear(j).toShort, s"alaw $j")
    }
    // Unsupported format code degrades to null, not garbage.
    assert(Containers.wavSamples(
      Containers.synthWav(8000, 1, 8, bytes, 2)) == null) // ADPCM
  }

  test("pixel/audio stats datasets decode their own synthesized corpora") {
    import spark.implicits._
    val docs = Tables.load(spark, sf0001, "documents").limit(50)
    val ps = Multimodal.pixelStats(spark,
      Multimodal.demoPixelCorpus(spark, docs)).collect()
    assert(ps.length == 50 && ps.forall(_.width > 0))
    // Replay the generator for one row and compare the channel sums.
    val r = ps.find(_.media_id == 1L).get
    val (w, h) = ((8 + 1 % 9), (8 + 1 % 7))
    val gen = Array.tabulate(w * h * 3)(i => (1 * 31 + i * 7) % 256)
    assert(r.width == w && r.height == h)
    assert(r.c0_sum == gen.zipWithIndex.collect { case (v, i) if i % 3 == 0 => v.toLong }.sum)
    assert(r.c2_sum == gen.zipWithIndex.collect { case (v, i) if i % 3 == 2 => v.toLong }.sum)
    val as = Multimodal.audioStats(spark,
      Multimodal.demoAudioCorpus(spark, docs)).collect()
    assert(as.length == 50 && as.forall(a => a.n_samples >= 500 && a.peak_abs <= 32768))
  }

  test("container parsing: true dimensions/rates from synthesized headers") {
    val payload = "some payload bytes".getBytes
    val bmp = Containers.parse(Containers.synthBmp(640, 480, payload))
    assert(bmp.format == "bmp" && bmp.width == 640 && bmp.height == 480)
    val wav = Containers.parse(Containers.synthWav(44100, 2, 16, payload))
    assert(wav.format == "wav" && wav.sampleRate == 44100 &&
      wav.channels == 2 && wav.bitsPerSample == 16)
    // PNG: hand-built signature + IHDR for 300x200
    val png = java.nio.ByteBuffer.allocate(24)
      .putInt(0x89504e47).putInt(0x0d0a1a0a)
      .putInt(13).put("IHDR".getBytes).putInt(300).putInt(200).array()
    val p = Containers.parse(png)
    assert(p.format == "png" && p.width == 300 && p.height == 200)
    // GIF89a 12x34 little-endian
    val gif = "GIF89a".getBytes ++ Array[Byte](12, 0, 34, 0)
    val g = Containers.parse(gif)
    assert(g.format == "gif" && g.width == 12 && g.height == 34)
    // JPEG: synthesized JFIF header, SOF0 after APP0
    val jp = Containers.parse(Containers.synthJpeg(1920, 1080))
    assert(jp.format == "jpeg" && jp.width == 1920 && jp.height == 1080)
    // JPEG with no SOF before EOI → unknown, not a hang
    val noSof = Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte)
    assert(Containers.parse(noSof).format == "unknown")
    // MP4: brand + mvhd duration round-trip; v0 math 90000-scale
    val mp4 = Containers.parse(Containers.synthMp4("isom", 90000, 90000L * 42))
    assert(mp4.format == "mp4/isom" && mp4.durationMs == 42000L)
    val odd = Containers.parse(Containers.synthMp4("mp42", 1000, 1500))
    assert(odd.format == "mp4/mp42" && odd.durationMs == 1500L)
    // truncated/corrupt mp4 bytes never throw
    val truncated = Containers.synthMp4("isom", 1000, 1000).take(10)
    assert(Containers.parse(truncated).format == "unknown")
    // payload-less mvhd at EOF: brand survives, duration degrades to 0
    val bare = java.nio.ByteBuffer.allocate(16 + 8 + 8)
    bare.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0x200)
    bare.putInt(16).put("moov".getBytes).putInt(8).put("mvhd".getBytes)
    val h = Containers.parse(bare.array())
    assert(h.format == "mp4/isom" && h.durationMs == 0L)
    // truncated 64-bit largesize header stops the walk (no fake boxes)
    val big = java.nio.ByteBuffer.allocate(16 + 12)
    big.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0x200)
    big.putInt(1).put("mdat".getBytes).putInt(0x6d6f6f76) // 'moov' bytes in tail
    assert(Containers.parse(big.array()).durationMs == 0L)
    intercept[IllegalArgumentException] {
      Containers.synthMp4("isom", 1000, 0x1_0000_0000L) // v0 u32 overflow
    }
    // JPEG with a zero-length segment (corrupt) must terminate
    val zeroLen = Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x00).map(_.toByte)
    assert(Containers.parse(zeroLen).format == "unknown")
    // garbage → unknown, not an exception
    assert(Containers.parse("not a container".getBytes).format == "unknown")
    assert(Containers.parse(Array.emptyByteArray).format == "unknown")
    // truncated magic-only prefixes must not throw either
    assert(Containers.parse("RIFF".getBytes).format == "unknown")
    assert(Containers.parse(Array[Byte]('B', 'M')).format == "unknown")
    // malicious RIFF chunk size 0xFFFFFFF8 (would advance the cursor by 0
    // with signed arithmetic): must terminate with unknown, not hang
    val evil = "RIFF".getBytes ++ Array[Byte](36, 0, 0, 0) ++
      "WAVE".getBytes ++ "junk".getBytes ++ Array[Byte](-8, -1, -1, -1)
    assert(Containers.parse(evil).format == "unknown")
  }

  test("binary pipeline: shape → partition-wise decode → typed features") {
    val docs = Tables.load(spark, sf0001, "documents")
    val media = Multimodal.demoCorpus(spark, docs)
    val feats = Multimodal.extractFeatures(spark, media, partitions = 8)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    // features are real functions of the payload bytes
    rows.foreach { f =>
      assert(f.n_bytes > 0)
      assert(f.header_hex.length == 16) // 8 bytes hex'd
      assert(f.mean_byte > 0 && f.mean_byte < 255)
      assert(Set("image", "audio", "video").contains(f.kind))
      // real parsing of the synthesized containers, per kind
      f.kind match {
        case "image" =>
          assert(f.format == "bmp")
          assert(f.width == 64 + (f.media_id % 97).toInt)
          assert(f.height == 64 + (f.media_id % 53).toInt)
        case "audio" =>
          assert(f.format == "wav")
          assert(f.sample_rate == 8000 + 100 * (f.media_id % 441).toInt)
          assert(f.channels == 1 + (f.media_id % 2).toInt)
          assert(f.bits_per_sample == 16)
        case _ =>
          assert(f.format == "unknown" && f.width == 0 && f.sample_rate == 0)
      }
    }
    // deterministic: same input → same features
    val again = Multimodal.extractFeatures(spark, media, partitions = 3).collect()
    assert(rows.sortBy(_.media_id).toSeq == again.sortBy(_.media_id).toSeq)
  }

  test("audio fingerprint: framing, delta bits, first-occurrence peak") {
    import spark.implicits._
    // 4 frames of 64 samples with energies quiet, loud, quiet, loud:
    // deltas (+,-,+) → bits 0b101 = 5; peak = first loud frame = 1.
    val amp = Array(10, 1000, 10, 1000)
    val bytes = new Array[Byte](4 * 64 * 2)
    for (f <- 0 until 4; k <- 0 until 64) {
      val v = if (k % 2 == 0) amp(f) else -amp(f)
      bytes(2 * (f * 64 + k)) = (v & 0xFF).toByte
      bytes(2 * (f * 64 + k) + 1) = ((v >> 8) & 0xFF).toByte
    }
    val media = Seq(
      Multimodal.MediaFile(1L, "audio", Containers.synthWav(8000, 1, 16, bytes)),
      Multimodal.MediaFile(2L, "audio", "not audio at all".getBytes)).toDS()
    val got = Multimodal.audioFingerprint(spark, media).collect()
      .map(a => a.media_id -> a).toMap
    assert(got(1L).n_frames == 4)
    assert(got(1L).fp_bits == 5L)
    assert(got(1L).peak_frame_idx == 1)
    assert(got(1L).total_energy ==
      amp.map(a => 64L * a * a).sum)
    // undecodable payload → -1 sentinels, not an exception
    assert(got(2L).n_frames == -1 && got(2L).fp_bits == -1L)
  }

  test("mp4 sample tables round-trip: stsz/stco/stss write then box-walk read") {
    val samples = Array(
      Array.tabulate(16)(_.toByte),
      Array.tabulate(24)(i => (i + 100).toByte),
      Array.tabulate(8)(i => (i * 3).toByte))
    val mp4 = Containers.synthMp4Samples("isom", 1000, 120L, samples, Seq(1, 3))
    // header path still parses (brand + duration via mvhd)
    val h = Containers.parse(mp4)
    assert(h.format == "mp4/isom" && h.durationMs == 120L)
    val got = Containers.mp4Samples(mp4)
    assert(got.length == 3)
    assert(got.map(_.size).toSeq == Seq(16L, 24L, 8L))
    assert(got.map(_.sync).toSeq == Seq(true, false, true))
    // offsets point at the REAL payload bytes inside mdat
    got.zip(samples).foreach { case (s, expected) =>
      val sliced = mp4.slice(s.offset.toInt, (s.offset + s.size).toInt)
      assert(sliced.toSeq == expected.toSeq)
    }
    // multi-sample chunks: stsc runs expand to the same per-sample
    // byte ranges regardless of grouping (incl. a short final chunk)
    for (spc <- 2 to 4) {
      val packed = Containers.synthMp4Samples("isom", 1000, 120L, samples,
        Seq(1, 3), samplesPerChunk = spc)
      val g = Containers.mp4Samples(packed)
      assert(g.length == 3, s"spc=$spc")
      g.zip(samples).foreach { case (s, expected) =>
        val sliced = packed.slice(s.offset.toInt, (s.offset + s.size).toInt)
        assert(sliced.toSeq == expected.toSeq, s"spc=$spc sample ${s.sampleIdx}")
      }
    }
    // table-less or corrupt input degrades to empty, never throws
    assert(Containers.mp4Samples(Containers.synthMp4("isom", 1000, 50L)).isEmpty)
    assert(Containers.mp4Samples("garbage".getBytes).isEmpty)
    assert(Containers.mp4Samples(mp4.take(40)).isEmpty)
    // forged sample ranges (offset/size past EOF) degrade to empty —
    // callers index the byte array raw, so the bounds gate lives here
    val stszAt = {
      var i = 0
      while (!(mp4(i + 4) == 's' && mp4(i + 5) == 't' && mp4(i + 6) == 's' &&
        mp4(i + 7) == 'z')) i += 1
      i
    }
    val forged = mp4.clone()
    // stsz: [len][type][ver+flags][uniform][count][size_0 at +20]
    forged(stszAt + 20) = 0x7F.toByte // first sample size ≈ 2^31
    assert(Containers.mp4Samples(forged).isEmpty)
  }

  test("keyframe sampling: evenly-spaced sync samples, real mdat bytes") {
    val docs = Tables.load(spark, sf0001, "documents")
    val media = Multimodal.demoVideoCorpus(spark, docs)
    val frames = Multimodal.sampleFrames(spark, media, n = 3).collect()
    assert(frames.nonEmpty)
    frames.groupBy(_.media_id).foreach { case (id, fs) =>
      val ns = (4 + id % 5).toInt
      val k = (ns + 1) / 2 // odd 1-based sample numbers are sync
      assert(fs.length == math.min(3, k))
      val sorted = fs.sortBy(_.frame_idx)
      // sync samples only: 0-based even sample indices
      assert(sorted.forall(_.sample_idx % 2 == 0))
      // offsets strictly increase and sit past the moov header
      assert(sorted.map(_.frame_offset).toSeq ==
        sorted.map(_.frame_offset).sorted.toSeq)
      assert(sorted.head.frame_offset > 54)
      // bytes are the generator's, proving stco/stsz were followed
      sorted.foreach { f =>
        val size = (16 + ((id + f.sample_idx) % 3) * 8).toInt
        assert(f.frame_bytes.length == size)
        val expected = Array.tabulate(size)(j =>
          ((id * 131 + f.sample_idx * 17 + j * 7) % 256).toByte)
        assert(f.frame_bytes.toSeq == expected.toSeq)
      }
    }
    // non-MP4 "video" payloads degrade to zero frames, not an exception
    val opaque = Multimodal.demoCorpus(spark, docs)
    assert(Multimodal.sampleFrames(spark, opaque, n = 3).count() == 0)
  }

  test("resize: real pixel downscale for BMPs, pass-through otherwise") {
    val docs = Tables.load(spark, sf0001, "documents")
    val media = Multimodal.demoCorpus(spark, docs)
    val resized = Multimodal.resizeAll(spark, media, factor = 4).collect()
    val orig = media.collect().map(m => m.media_id -> m).toMap
    resized.foreach { r =>
      val o = orig(r.media_id)
      assert(r.kind == o.kind)
      if (o.kind == "image" && Containers.bmpPixelBytes(o.content) != null) {
        // real resize: dimensions shrink by the factor, output decodable
        val before = Containers.parse(o.content)
        val after = Containers.parse(r.content)
        assert(after.format == "bmp")
        assert(after.width == math.max(before.width / 4, 1))
        assert(after.height == math.max(before.height / 4, 1))
      } else {
        // undecodable payloads pass through untouched
        assert(r.content.toSeq == o.content.toSeq)
      }
    }
  }

  test("ahashNearDups: close hashes pair via pigeonhole, far hashes don't") {
    import spark.implicits._
    val hashes = Seq(
      (1L, 0x0000FFFF0000FFL, 0x00FF00FF00FF00FFL),
      (2L, 0x0000FFFF0000FFL ^ 0x3L, 0x00FF00FF00FF00FFL),        // d=2 on hi
      (3L, 0x0000FFFF0000FFL, 0x00FF00FF00FF00FFL ^ 0x500000001L), // d=3 on lo
      (4L, 0x0000FFFF0000FFL ^ 0x0F0F0FL, 0x00FF00FF00FF00FFL),    // d=12
      (5L, 0x0000FFFF0000FFL, 0x00FF00FF00FF00FFL)                 // d=0 dup of 1
    ).toDF("media_id", "hash_hi", "hash_lo")
    val got = Multimodal.ahashNearDups(hashes, "media_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.contains((1L, 2L, 2)))
    assert(got.contains((1L, 3L, 3)))
    assert(got.contains((1L, 5L, 0)))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L), s"d=12 leaked: $got")
    // transitive closeness between 2 and 5 (same as 1-2)
    assert(got.contains((2L, 5L, 2)))
  }

  test("average-hash: flat image hashes to zero, half-split image to known bits") {
    import spark.implicits._
    import graft.operators.Containers
    // flat gray image: no pixel exceeds the mean -> all 64 bits zero
    val w = 10; val h = 9
    val flat = Array.fill(w * h * 3)(77.toByte)
    // top-half bright (rows r >= h/2 in BMP bottom-up == visual top; the
    // generator array is in row 0..h-1 order, decode restores it)
    val split = Array.tabulate(w * h * 3) { i =>
      val row = (i / 3) / w
      (if (row >= 5) 250 else 10).toByte
    }
    val media = Seq(
      Multimodal.MediaFile(1L, "image", Containers.synthBmp24(w, h, flat)),
      Multimodal.MediaFile(2L, "image", Containers.synthBmp24(w, h, split)))
      .toDS()
    val got = Multimodal.ahash(spark, media).collect()
      .map(a => a.media_id -> a).toMap
    assert(got(1L).hash_hi == 0L && got(1L).hash_lo == 0L)
    assert(got(1L).gray_sum == 64L * 3 * 77)
    // split image: grid rows whose sample row (r8*h/8) >= 5 are bright.
    // r8*9/8 >= 5 <=> r8 >= 5 (r8=5 -> row 5). Bits k = r8*8+c8 for
    // r8 in 5..7 are set -> lo bits 32..31? k in 40..63 -> hi bits 8..31.
    val expHi = (40 until 64).map(k => 1L << (k - 32)).sum
    assert(got(2L).hash_hi == expHi && got(2L).hash_lo == 0L)
    // partition invariance: 1 vs 4 partitions, identical hashes
    val again = Multimodal.ahash(spark, media.repartition(4)).collect()
      .map(a => a.media_id -> a).toMap
    assert(again == got)
  }
  test("chunked transfer decoding: framing vanishes, damage falls back raw") {
    val body = "hello chunked world, twenty-nine".getBytes("US-ASCII")
    def http(framing: Array[Byte], te: String): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n$te\r\n\r\n")
        .getBytes("US-ASCII") ++ framing
    // two chunks, a chunk extension, trailer fields after the 0 chunk
    val framed = new java.io.ByteArrayOutputStream()
    framed.write("c;ext=\"x\"\r\n".getBytes("US-ASCII"))
    framed.write(body, 0, 12)
    framed.write("\r\n".getBytes("US-ASCII"))
    framed.write(f"${body.length - 12}%x\r\n".getBytes("US-ASCII"))
    framed.write(body, 12, body.length - 12)
    framed.write("\r\n0\r\nX-Trailer: t\r\n\r\n".getBytes("US-ASCII"))
    val msg = http(framed.toByteArray, "Transfer-Encoding: chunked")
    val h = Containers.httpResponse(msg, 0, msg.length)
    assert(h != null && h.chunked)
    assert(Containers.httpBodyBytes(msg, h).toSeq == body.toSeq)
    // a plain response is an identity slice (and not chunked)
    val plainMsg = http(body, s"Content-Length: ${body.length}")
    val hp = Containers.httpResponse(plainMsg, 0, plainMsg.length)
    assert(hp != null && !hp.chunked)
    assert(Containers.httpBodyBytes(plainMsg, hp).toSeq == body.toSeq)
    // malformed chunk framing: keep the raw bytes (crawl robustness)
    val broken = http("zz\r\nnope".getBytes("US-ASCII"),
      "Transfer-Encoding: chunked")
    val hb = Containers.httpResponse(broken, 0, broken.length)
    assert(hb != null && hb.chunked)
    assert(new String(Containers.httpBodyBytes(broken, hb), "US-ASCII") ==
      "zz\r\nnope")
    // dechunk never throws on garbage
    val rnd = new scala.util.Random(4)
    (0 until 200).foreach { _ =>
      val junk = Array.fill(40 + rnd.nextInt(60))(rnd.nextInt(256).toByte)
      Containers.dechunk(junk, 0, junk.length)
    }
  }

  test("WARC digest audit: sha1-base32 recompute vs the labelled headers") {
    // RFC 3174 test vectors through the base32 labelling (python
    // hashlib/base64 golden values)
    val abc = "abc".getBytes("US-ASCII")
    assert(Containers.sha1Base32(abc, 0, abc.length) ==
      "VGMT4NSHA2AWVOR6EVYXQUGCNSONBWE5")
    assert(Containers.sha1Base32(Array.emptyByteArray, 0, 0) ==
      "3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ")
    // one record per digest mode; classes recompute over the block
    val payloads = (0 until 4).map(r =>
      ("response", s"https://x/$r", Array.tabulate(40)(j => (r * 31 + j).toByte)))
    for (gz <- Seq(false, true)) {
      val warc = Containers.synthWarc(payloads, gzipPerRecord = gz,
        digestModes = Seq("ok", "absent", "mismatch", "md5"))
      val plain = Containers.crawlInflate(warc)
      val recs = Containers.warcRecords(plain)
      assert(recs != null && recs.length == 4)
      val classes = recs.map(r => Containers.digestClass(
        r.blockDigest, plain, r.payloadOffset.toInt, r.contentLength.toInt))
      assert(classes.toSeq == Seq("ok", "absent", "mismatch", "unsupported_algo"),
        s"gz=$gz classes=${classes.toSeq}")
      // payload digest parses too (written on the 'ok' record)
      assert(recs(0).payloadDigest.startsWith("sha1:"))
      assert(recs(1).payloadDigest.isEmpty)
      // a flipped BLOCK byte turns ok into mismatch (real recompute)
      if (!gz) {
        val mut = plain.clone()
        mut(recs(0).payloadOffset.toInt + 3) =
          (mut(recs(0).payloadOffset.toInt + 3) ^ 1).toByte
        assert(Containers.digestClass(recs(0).blockDigest, mut,
          recs(0).payloadOffset.toInt, recs(0).contentLength.toInt) == "mismatch")
      }
    }
  }

  test("mediaDecodeClass: tar/WARC/audio/zstd loss classes beside images") {
    import Multimodal.mediaDecodeClass
    val data = Array.tabulate(70)(j => ((j * 29) % 256).toByte)
    // tar: valid -> ok; flipped name byte -> checksum mismatch = corrupt
    val tar = Containers.synthTar(Seq(("a.bin", data)))
    assert(mediaDecodeClass(tar) == ("tar", "ok"))
    // the checksum-validated tar sniff beats weak image magics: a
    // member named "BM…" puts BMP's 2-byte magic at offset 0
    val bmTar = Containers.synthTar(Seq(("BMW_X5_review.json", data)))
    assert(mediaDecodeClass(bmTar) == ("tar", "ok"))
    val bad = tar.clone(); bad(0) = (bad(0) ^ 1).toByte
    assert(mediaDecodeClass(bad) == ("tar", "corrupt"))
    // tar: GNU MULTIVOLUME member with a RECOMPUTED checksum ->
    // profile (sparse AND dumpdir members DECODE now, so 'M' is the
    // remaining gap plant; a retagged-'S' header with a zeroed sparse
    // map is CORRUPT)
    val sp = tar.clone()
    sp(156) = 'M'.toByte
    java.util.Arrays.fill(sp, 148, 156, ' '.toByte)
    var sum = 0L
    for (k <- 0 until 512) sum += (sp(k) & 0xFF)
    System.arraycopy("%06o".format(sum).getBytes("US-ASCII"), 0, sp, 148, 6)
    sp(154) = 0; sp(155) = ' '.toByte
    assert(Containers.unsupportedTarProfile(sp))
    assert(mediaDecodeClass(sp) == ("tar", "unsupported_profile"))
    val retaggedSparse = tar.clone()
    retaggedSparse(156) = 'S'.toByte
    java.util.Arrays.fill(retaggedSparse, 148, 156, ' '.toByte)
    var sum2 = 0L
    for (k <- 0 until 512) sum2 += (retaggedSparse(k) & 0xFF)
    System.arraycopy("%06o".format(sum2).getBytes("US-ASCII"), 0,
      retaggedSparse, 148, 6)
    retaggedSparse(154) = 0; retaggedSparse(155) = ' '.toByte
    assert(mediaDecodeClass(retaggedSparse) == ("tar", "corrupt"))
    assert(!Containers.unsupportedTarProfile(tar))
    assert(!Containers.unsupportedTarProfile(bad)) // damage is not a profile
    // WARC: gzip-framed ok; trailer cut -> the STREAM is corrupt (we
    // can't see the payload to call it warc); plain-text warc ok too
    val warc = Containers.synthWarc(
      Seq(("response", "https://x/1", data)), gzipPerRecord = true)
    assert(mediaDecodeClass(warc) == ("warc", "ok"))
    assert(mediaDecodeClass(warc.dropRight(8)) == ("gzip", "corrupt"))
    val plain = Containers.synthWarc(Seq(("response", "https://x/2", data)))
    assert(mediaDecodeClass(plain) == ("warc", "ok"))
    assert(mediaDecodeClass(plain.dropRight(10)) == ("warc", "corrupt"))
    // sound gzip around a non-WARC payload names the wrapper only
    val gz = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(data); g.close(); bo.toByteArray
    }
    assert(mediaDecodeClass(gz) == ("gzip", "unknown_container"))
    // WAV: PCM ok; ADPCM fmt code -> profile; damaged data id -> corrupt
    val wav = Containers.synthWav(8000, 1, 16, Array.tabulate(128)(j =>
      ((j * 37) % 256).toByte))
    assert(mediaDecodeClass(wav) == ("wav", "ok"))
    val adpcm = wav.clone(); adpcm(20) = 2; adpcm(21) = 0
    assert(Containers.unsupportedAudioProfile(adpcm))
    assert(mediaDecodeClass(adpcm) == ("wav", "unsupported_profile"))
    val noData = wav.clone(); noData(36) = 'x'.toByte
    assert(!Containers.unsupportedAudioProfile(noData))
    assert(mediaDecodeClass(noData) == ("wav", "corrupt"))
    // vendor SubFormat GUID in an extensible header is a codec gap
    val ext = Containers.synthWavExtensible(8000, 1, 16,
      Array.tabulate(64)(j => ((j * 7) % 256).toByte))
    assert(mediaDecodeClass(ext) == ("wav", "ok"))
    val vendor = ext.clone()
    // GUID tail starts 2 bytes after the code (fmt data off 24 at 12+8)
    vendor(12 + 8 + 24 + 2) = (vendor(12 + 8 + 24 + 2) ^ 1).toByte
    assert(Containers.unsupportedAudioProfile(vendor))
    assert(mediaDecodeClass(vendor) == ("wav", "unsupported_profile"))
    // zstd frame: named wrapper, codec gap
    val zst = Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte, 1, 2, 3)
    assert(mediaDecodeClass(zst) == ("zstd", "unsupported_profile"))
    // fragmented MP4 decodes via the moof/trun walk — both the
    // ftyp-headed and the ftyp-less CMAF (styp) segment shapes
    val frag = Containers.synthMp4Fragmented("isom", Seq(Seq(10, 20)))
    assert(mediaDecodeClass(frag) == ("mp4", "ok"))
    val stypSeg = Containers.synthMp4Fragmented("msdh",
      Seq(Seq(5, 6, 7)), styp = true)
    assert(mediaDecodeClass(stypSeg) == ("mp4", "ok"))
    // a bare styp box with no moof carries no samples = corrupt
    val stypOnly = java.nio.ByteBuffer.allocate(16).putInt(16)
      .put("styp".getBytes("US-ASCII")).put("msdh".getBytes("US-ASCII"))
      .putInt(0).array()
    assert(mediaDecodeClass(stypOnly) == ("mp4", "corrupt"))
    // images still route through the image classifier unchanged
    assert(mediaDecodeClass(Array.emptyByteArray) == ("unknown", "empty"))
    val px = Array.tabulate(8 * 8 * 3)(i => (i % 256).toByte)
    assert(mediaDecodeClass(Containers.synthBmp24(8, 8, px)) == ("bmp", "ok"))
  }
  test("jpeg: 12-bit baseline decodes with Pq=1 DQT and high-byte fold") {
    // gray: integer-exact chain, output byte = v >> 4
    val vals = Array(Array(4095, 0), Array(2048, 1234)) // [by][bx]
    val jg = Containers.synthJpeg12(16, 16, 1, (_, bx, by) => vals(by)(bx))
    val pg = Containers.jpegPixelBytes(jg)
    assert(pg != null && pg.length == 16 * 16 * 3)
    for (by <- 0 to 1; bx <- 0 to 1; y <- 0 until 8; x <- 0 until 8; c <- 0 to 2) {
      val d = ((by * 8 + y) * 16 + bx * 8 + x) * 3 + c
      assert((pg(d) & 0xFF) == vals(by)(bx) >> 4, s"gray ($bx,$by) ch $c")
    }
    // color: BT.601 in the 12-bit domain (chroma mid 2048, clamp 4095)
    // then the same high-byte fold
    val y0 = 3000; val cb0 = 2048 - 736; val cr0 = 2048 + 368
    val jc = Containers.synthJpeg12(8, 8, 3,
      (comp, _, _) => Seq(y0, cb0, cr0)(comp))
    val pc = Containers.jpegPixelBytes(jc)
    assert(pc != null)
    def cl12(v: Double): Int = {
      val r = math.round(v).toInt
      if (r < 0) 0 else if (r > 4095) 4095 else r
    }
    val er = cl12(y0 + 1.402 * (cr0 - 2048)) >> 4
    val eg = cl12(y0 - 0.344136 * (cb0 - 2048) - 0.714136 * (cr0 - 2048)) >> 4
    val eb = cl12(y0 + 1.772 * (cb0 - 2048)) >> 4
    for (p <- 0 until 64) {
      assert((pc(3 * p) & 0xFF) == er, s"12-bit R $p")
      assert((pc(3 * p + 1) & 0xFF) == eg, s"12-bit G $p")
      assert((pc(3 * p + 2) & 0xFF) == eb, s"12-bit B $p")
    }
    // 12-bit baseline is IN profile; retagged SOF2 makes it a
    // (progressive 12-bit) gap again, and other precisions stay out
    assert(!Containers.unsupportedImageProfile(jg, "jpeg"))
    val sof = (0 until jg.length - 1).indexWhere(i =>
      (jg(i) & 0xFF) == 0xFF && (jg(i + 1) & 0xFF) == 0xC0)
    val prog = jg.clone(); prog(sof + 1) = 0xC2.toByte
    assert(Containers.jpegPixelBytes(prog) == null)
    assert(Containers.unsupportedImageProfile(prog, "jpeg"))
    val p10 = jg.clone(); p10(sof + 4) = 10
    assert(Containers.jpegPixelBytes(p10) == null)
    assert(Containers.unsupportedImageProfile(p10, "jpeg"))
  }
  test("gif: animation composes frames with transparency and disposal") {
    import Containers.GifFrame
    val gct = Array(10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220)
    def px(rgb: Array[Byte], w: Int, x: Int, y: Int): (Int, Int, Int) = {
      val d = (y * w + x) * 3
      ((rgb(d) & 0xFF), (rgb(d + 1) & 0xFF), (rgb(d + 2) & 0xFF))
    }
    def pal(j: Int) = (gct(3 * j), gct(3 * j + 1), gct(3 * j + 2))
    // partial first frame over the background-initialized canvas,
    // then an overlay whose transparent index lets the bg show
    val g1 = Containers.synthGifAnim(8, 8, gct, 1, Seq(
      GifFrame(0, 0, 4, 8, Array.fill(32)(2)),
      GifFrame(4, 0, 4, 4,
        Array.tabulate(16)(i => if (i % 2 == 0) 3 else 0),
        transparentIdx = 0)))
    val a1 = Containers.gifAnimate(g1)
    assert(a1 != null && a1._3 == 2 && a1._1 == 8 && a1._2 == 8)
    assert(px(a1._4, 8, 1, 5) == pal(2))            // frame 0
    assert(px(a1._4, 8, 4, 0) == pal(3))            // overlay opaque (i=0)
    assert(px(a1._4, 8, 5, 0) == pal(1))            // overlay transparent -> bg
    assert(px(a1._4, 8, 6, 6) == pal(1))            // never drawn -> bg
    // gifPixelBytes now routes through composition (same bytes)
    assert(java.util.Arrays.equals(Containers.gifPixelBytes(g1), a1._4))
    // disposal 2: the middle frame's rect is restored to background
    // before the last frame draws elsewhere
    val g2 = Containers.synthGifAnim(8, 8, gct, 1, Seq(
      GifFrame(0, 0, 8, 8, Array.fill(64)(2)),
      GifFrame(0, 0, 4, 4, Array.fill(16)(3), disposal = 2),
      GifFrame(4, 4, 2, 2, Array.fill(4)(0))))
    val a2 = Containers.gifAnimate(g2)
    assert(a2 != null && a2._3 == 3)
    assert(px(a2._4, 8, 0, 0) == pal(1))            // restored to bg
    assert(px(a2._4, 8, 4, 4) == pal(0))            // last frame
    assert(px(a2._4, 8, 7, 0) == pal(2))            // first frame kept
    // disposal 3: the middle frame's rect is restored to the PREVIOUS
    // canvas (frame 0's pixels), not to background
    val g3 = Containers.synthGifAnim(8, 8, gct, 1, Seq(
      GifFrame(0, 0, 8, 8, Array.fill(64)(2)),
      GifFrame(2, 2, 4, 4, Array.fill(16)(3), disposal = 3),
      GifFrame(0, 0, 2, 2, Array.fill(4)(1))))
    val a3 = Containers.gifAnimate(g3)
    assert(a3 != null && a3._3 == 3)
    assert(px(a3._4, 8, 3, 3) == pal(2))            // restored previous
    assert(px(a3._4, 8, 1, 1) == pal(1))            // last frame
    // a local palette scopes to its frame only
    val loc = Array(1, 2, 3, 4, 5, 6, 7, 8, 9, 100, 101, 102)
    val g4 = Containers.synthGifAnim(8, 8, gct, 0, Seq(
      GifFrame(0, 0, 8, 8, Array.fill(64)(2)),
      GifFrame(0, 0, 2, 2, Array.fill(4)(3), localPaletteRgb = loc)))
    val a4 = Containers.gifAnimate(g4)
    assert(a4 != null)
    assert(px(a4._4, 8, 0, 0) == ((100, 101, 102))) // local entry 3
    assert(px(a4._4, 8, 5, 5) == pal(2))            // global elsewhere
    // disposal on the LAST frame never fires (nothing follows)
    val g5 = Containers.synthGifAnim(8, 8, gct, 1, Seq(
      GifFrame(0, 0, 8, 8, Array.fill(64)(2)),
      GifFrame(0, 0, 4, 4, Array.fill(16)(3), disposal = 2)))
    val a5 = Containers.gifAnimate(g5)
    assert(a5 != null && px(a5._4, 8, 0, 0) == pal(3))
    // corrupt: a frame rect escaping the canvas degrades to null
    val bad = g1.clone()
    // image descriptor of frame 0 starts right after header+GCT:
    // 13 + 12 bytes; width field at +5 (little-endian)
    bad(13 + 12 + 5) = 9
    assert(Containers.gifAnimate(bad) == null)
  }
  test("wav: mono IMA-ADPCM blocks decode through the step recurrence") {
    // hand-computed from the public tables: pred=0, idx=0 (step 7)
    //   nibble 0 -> diff 7>>3 = 0, pred 0, idx max(0-1,0)=0
    //   nibble 7 -> diff 0+1+3+7 = 11, pred 11, idx 0+8=8 (step 16)
    //   nibble 15 -> diff 2+4+8+16 = 30 sign-, pred -19, idx 8+8=16 (34)
    //   nibble 4 -> diff 34>>3 + 34 = 38, pred 19, idx 16+2=18
    val wav = Containers.synthWavImaAdpcm(16000,
      Seq((0, 0, Array(0, 7, 15, 4))))
    val s = Containers.wavSamples(wav)
    assert(s != null && s.toSeq == Seq[Short](0, 0, 11, -19, 19))
    // clamping: start at the ceiling with the biggest step, push up
    val hot = Containers.synthWavImaAdpcm(16000,
      Seq((32767, 88, Array(7, 7))))
    val hs = Containers.wavSamples(hot)
    assert(hs != null && hs(1) == 32767 && hs(2) == 32767) // s16 clamp
    // multi-block: each block restarts from its own header
    val two = Containers.synthWavImaAdpcm(16000,
      Seq((100, 0, Array(0, 0)), (-200, 3, Array(0, 0))))
    val ts = Containers.wavSamples(two)
    assert(ts != null && ts.length == 6)
    assert(ts(0) == 100 && ts(3) == -200)
    // header with step index > 88 is corruption -> null (not profile)
    val bad = wav.clone()
    // block header starts after RIFF(12)+fmt(8+20)+data hdr(8) = 48
    bad(48 + 2) = 90
    assert(Containers.wavSamples(bad) == null)
    assert(!Containers.unsupportedAudioProfile(bad))
    // >2-channel IMA stays a profile gap (channels field at fmt+10)
    val st = wav.clone(); st(12 + 8 + 2) = 3
    assert(Containers.wavSamples(st) == null)
    assert(Containers.unsupportedAudioProfile(st))
    // parse still names the container and its coded bit depth
    val hdr = Containers.parse(wav)
    assert(hdr.format == "wav" && hdr.sampleRate == 16000 &&
      hdr.bitsPerSample == 4)
  }

  test("wav: stereo IMA-ADPCM de-interleaves alternating channel words") {
    // left: the mono hand case (pred 0, idx 0, nibbles 0,7,15,4 then
    // zero-padding to the 8-nibble word); right: constant nibble 0
    // from pred 1000, idx 0 — step 7 gives diff 0, so the channel
    // holds 1000 while its index floors at 0
    val nl = Array(0, 7, 15, 4, 0, 0, 0, 0)
    val nr = Array.fill(8)(0)
    val wav = Containers.synthWavImaAdpcmStereo(16000,
      Seq((0, 0, 1000, 0, nl, nr)))
    val s = Containers.wavSamples(wav)
    assert(s != null && s.length == 18) // (1 + 8) samples x 2, interleaved
    // interleaved: even positions left, odd positions right
    val left = s.indices.collect { case i if i % 2 == 0 => s(i) }
    val right = s.indices.collect { case i if i % 2 == 1 => s(i) }
    assert(left.take(5) == Seq[Short](0, 0, 11, -19, 19))
    assert(right.forall(_ == 1000.toShort))
    // left's trailing zero nibbles keep stepping ITS state only:
    // after nibble 4 idx=18 (step 45): +5 each zero nibble? no —
    // nibble 0 adds step>>3 with sign +; verify continuation is
    // monotone non-decreasing and right stays untouched
    assert(left.drop(4).sliding(2).forall(p => p(1) >= p(0)))
    // a cut mid word-pair drops the incomplete pair, keeps the seeds
    val cut = Containers.wavSamples(wav.dropRight(4))
    assert(cut != null && cut.length == 2)
    assert(Containers.parse(wav).channels == 2)
  }
  test("mp4: fragmented moof/trun runs yield exact sample ranges") {
    // two fragments: layout is deterministic, so every offset is
    // computable by hand: ftyp 16 B; moof = 76 + 4*ns; data_offset =
    // moofSize + 8 (into the fragment's own mdat)
    val frag = Containers.synthMp4Fragmented("isom",
      Seq(Seq(10, 20, 30), Seq(7)))
    val s = Containers.mp4Samples(frag)
    assert(s != null && s.length == 4)
    val moof1 = 76 + 4 * 3 // 88
    assert(s(0).offset == 16 + moof1 + 8 && s(0).size == 10 && s(0).sync)
    assert(s(1).offset == s(0).offset + 10 && s(1).size == 20 && !s(1).sync)
    assert(s(2).offset == s(1).offset + 20 && s(2).size == 30 && !s(2).sync)
    // fragment 2 starts after fragment 1's mdat (8 + 60 payload)
    val frag2At = 16 + moof1 + 8 + 60
    val moof2 = 76 + 4 * 1 // 80
    assert(s(3).offset == frag2At + moof2 + 8 && s(3).size == 7 && s(3).sync)
    assert(s(3).sampleIdx == 3) // global ordinal across fragments
    // the mdat bytes at a sample's range are the generator's
    val b0 = frag(s(0).offset.toInt) & 0xFF
    assert(b0 == 0) // fragment 0, payload byte 0: (0*31 + 0*7) % 256
    // truncation: cutting into the last mdat drops the whole table
    assert(Containers.mp4Samples(frag.dropRight(3)).isEmpty)
    // a trun without an explicit data offset degrades to empty
    val noDo = frag.clone()
    // trun of fragment 1 starts at ftyp(16) + moof hdr(8) + mfhd(16)
    // + traf hdr(8) + tfhd(20) = 68; its verflags word is at +8..+11
    // and the data-offset bit is bit 0 of the low byte
    assert((noDo(68 + 10) & 0xFF) == 0x02 && (noDo(68 + 11) & 0xFF) == 0x05)
    noDo(68 + 11) = 0x04
    assert(Containers.mp4Samples(noDo).isEmpty)
  }
  test("wav: mono MS-ADPCM blocks decode through the two-tap predictor") {
    // hand-computed with coef pair 0 (c1=256, c2=0): pred depends on
    // prev only; delta=16, seeds s1=100 (prev), s2=-50 (output first)
    //   nibble 1 -> (100*256)>>8 + 1*16 = 116; delta = max(16,(230*16)>>8)=16
    //   nibble 9 -> (116*256)>>8 + (-7)*16 = 4; delta = max(16,(614*16)>>8)=38
    //   nibble 0 -> (4*256)>>8 + 0 = 4; delta stays via adapt 230: (230*38)>>8=34
    //   nibble 8 -> (4*256)>>8 + (-8)*34 = -268
    val wav = Containers.synthWavMsAdpcm(16000,
      Seq((0, 16, 100, -50, Array(1, 9, 0, 8))))
    val s = Containers.wavSamples(wav)
    assert(s != null && s.toSeq == Seq[Short](-50, 100, 116, 4, 4, -268))
    // coef pair 1 (c1=512, c2=-256) uses BOTH taps; negative >>8 floors
    //   prev=3, prev2=200: (3*512 - 200*256)>>8 = (1536-51200)>>8 =
    //   -49664>>8 = -194; nibble 15 -> -194 + (-1)*20 = -214
    val w2 = Containers.synthWavMsAdpcm(16000,
      Seq((1, 20, 3, 200, Array(15, 0))))
    val s2 = Containers.wavSamples(w2)
    assert(s2 != null && s2(2) == -214)
    // multi-block restart + corrupt coefficient index -> null
    val two = Containers.synthWavMsAdpcm(16000,
      Seq((0, 16, 1, 2, Array(0, 0)), (2, 99, 7, 8, Array(0, 0))))
    val ts = Containers.wavSamples(two)
    assert(ts != null && ts.length == 8 && ts(4) == 8 && ts(5) == 7)
    val bad = wav.clone()
    bad(12 + 8 + 50 + 8) = 9 // block header coef index at data start
    assert(Containers.wavSamples(bad) == null)
    assert(!Containers.unsupportedAudioProfile(bad))
    // >2-channel MS-ADPCM stays a profile gap
    val st = wav.clone(); st(12 + 8 + 2) = 3
    assert(Containers.wavSamples(st) == null)
    assert(Containers.unsupportedAudioProfile(st))
  }

  test("wav: stereo MS-ADPCM alternates channels per nibble") {
    // left: coef 0 (c1=256, prev-only), delta 16, seeds s1=100 s2=-50
    // -> same hand case as mono: nibbles 1,9,0,8 give 116,4,4,-268;
    // right: coef 2 (c1=c2=0), delta 16, seeds s1=5 s2=6 -> every
    // sample is signed(n)*16 from a zero predictor tap
    val nl = Array(1, 9, 0, 8)
    val nr = Array(1, 15, 0, 8)
    val wav = Containers.synthWavMsAdpcmStereo(16000,
      Seq((0, 2, 16, 16, 100, 5, -50, 6, nl, nr)))
    val s = Containers.wavSamples(wav)
    assert(s != null && s.length == 12) // 4 seeds + 4 nibble pairs
    // seed order: sample2s interleaved L,R then sample1s L,R
    assert(s.take(4).toSeq == Seq[Short](-50, 6, 100, 5))
    val left = Seq(s(4), s(6), s(8), s(10))
    val right = Seq(s(5), s(7), s(9), s(11))
    assert(left == Seq[Short](116, 4, 4, -268))
    // right channel: p = 0 + signed(n)*delta each step, delta adapts:
    //   n=1: p=16, delta max(16,(230*16)>>8)=16
    //   n=15: p=-112? signed(15)=-1 -> p=-16; delta (230*16)>>8 -> 16
    //   n=0: p=0; n=8: signed=-8 -> p=-128
    assert(right == Seq[Short](16, -16, 0, -128))
    assert(Containers.parse(wav).channels == 2)
  }
  test("warc: HTTP responses inside content blocks split exactly") {
    val body = "<html>hi</html>".getBytes("US-ASCII")
    val msg = ("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=UTF-8\r\n" +
      "Content-Length: " + body.length + "\r\n\r\n").getBytes("US-ASCII") ++ body
    val h = Containers.httpResponse(msg, 0, msg.length)
    assert(h != null && h.status == 200 && h.contentType == "text/html")
    assert(h.bodyLength == body.length)
    assert(new String(msg, h.bodyOffset, h.bodyLength, "US-ASCII")
      == "<html>hi</html>")
    // case-insensitive field names; empty body; parameter stripping
    val m2 = "HTTP/1.0 404 Not Found\r\ncontent-TYPE: Text/Plain\r\n\r\n"
      .getBytes("US-ASCII")
    val h2 = Containers.httpResponse(m2, 0, m2.length)
    assert(h2 != null && h2.status == 404 &&
      h2.contentType == "text/plain" && h2.bodyLength == 0)
    // malformed: no HTTP prefix, unterminated headers
    assert(Containers.httpResponse("junk\r\n\r\n".getBytes, 0, 8) == null)
    val unterm = "HTTP/1.1 200 OK\r\nX: 1\r\n".getBytes("US-ASCII")
    assert(Containers.httpResponse(unterm, 0, unterm.length) == null)
    // a decode-bomb GIF (many frames over the pixel cap) degrades to
    // null instead of compositing gigapixels
    val pal = Array.tabulate(3 * 4)(i => (i * 31) % 256)
    val big = Containers.synthGifAnim(4096, 4096, pal, 0,
      Seq.fill(17)(Containers.GifFrame(0, 0, 4096, 4096,
        Array.fill(4096 * 4096)(1))))
    assert(Containers.gifAnimate(big) == null) // 17*16.7M px > 2^28
  }
  test("mp4: init-segment stbl, largesize boxes, default-size runs") {
    def be32(v: Int) = Array[Byte](((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(t: String, p: Array[Byte]) =
      be32(8 + p.length) ++ t.getBytes("US-ASCII") ++ p
    val frag = Containers.synthMp4Fragmented("isom", Seq(Seq(10, 20)))
    val base = Containers.mp4Samples(frag)
    assert(base.length == 2)
    // self-initializing DASH shape: a moov whose stbl has EMPTY
    // stsz/stco tables sits between ftyp and the fragments — the
    // fragment walk must still run (default-base-is-moof keeps the
    // data offsets correct under the shift)
    val stbl = box("stbl",
      box("stsz", be32(0) ++ be32(0) ++ be32(0)) ++
        box("stco", be32(0) ++ be32(0)))
    val moov = box("moov", box("trak", box("mdia", box("minf", stbl))))
    val s1 = Containers.mp4Samples(frag.take(16) ++ moov ++ frag.drop(16))
    assert(s1.length == 2, "init-segment shape must route to fragments")
    assert(s1(0).offset == base(0).offset + moov.length)
    assert(s1(0).size == 10 && s1(1).size == 20 && s1(0).sync && !s1(1).sync)
    // a largesize (size0 == 1, 64-bit length) box must not desync the
    // top-level walk
    val pay = Array.tabulate(24)(_.toByte)
    val big = be32(1) ++ "free".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0) ++ be32(16 + pay.length) ++ pay
    val s2 = Containers.mp4Samples(frag.take(16) ++ big ++ frag.drop(16))
    assert(s2.length == 2 && s2(0).offset == base(0).offset + big.length)
    // a trun with NO per-sample fields whose count exceeds its own box
    // bytes (sizes from tfhd default_sample_size) is spec-valid
    val n = 5
    val tfhd = box("tfhd",
      be32(0x020030) ++ be32(1) ++ be32(4) ++ be32(0x10000))
    val trun = box("trun", be32(0x000005) ++ be32(n) ++ be32(88) ++ be32(0))
    val moof = box("moof", box("mfhd", be32(0) ++ be32(1)) ++
      box("traf", tfhd ++ trun))
    assert(moof.length == 80) // doff 88 = moof + mdat header
    val mdat = box("mdat", new Array[Byte](4 * n))
    val s3 = Containers.mp4Samples(frag.take(16) ++ moof ++ mdat)
    assert(s3.length == n, "default-size run must decode")
    assert(s3(0).offset == 16 + 88 && s3(0).size == 4 && s3(0).sync)
    assert(s3(4).offset == 16 + 88 + 16 && !s3(4).sync)
  }
  test("gzip FHCRC header CRC is verified when present") {
    // build a member with FLG.FHCRC set: CRC-16 of the header bytes
    // (RFC 1952 §2.3.1: low 16 bits of CRC-32 over the header so far)
    def withFhcrc(payload: Array[Byte], corruptHeaderCrc: Boolean): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val header = Array[Byte](0x1f, 0x8b.toByte, 8, 2, 0, 0, 0, 0, 0, 0xff.toByte)
      out.write(header)
      val hc = new java.util.zip.CRC32()
      hc.update(header)
      val c16 = (hc.getValue & 0xFFFFL).toInt ^ (if (corruptHeaderCrc) 0x5A else 0)
      out.write(c16 & 0xFF); out.write((c16 >> 8) & 0xFF)
      val deflater = new java.util.zip.Deflater(1, true)
      try {
        deflater.setInput(payload); deflater.finish()
        val buf = new Array[Byte](8192)
        while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
      } finally deflater.end()
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
    }
    val payload = Array.tabulate(40)(i => (i * 11 + 3).toByte)
    val sound = withFhcrc(payload, corruptHeaderCrc = false)
    // interop pin: GZIPInputStream accepts the sound header CRC
    val jdk = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(sound))
    assert(jdk.readAllBytes().toSeq == payload.toSeq)
    val m = Containers.gzipMembers(sound)
    assert(m != null && m.length == 1 && m(0).toSeq == payload.toSeq)
    // corrupted header CRC is rejected (GZIPInputStream parity)
    val bad = withFhcrc(payload, corruptHeaderCrc = true)
    assert(Containers.gzipMembers(bad) == null)
    intercept[java.io.IOException] {
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bad)).readAllBytes()
    }
  }

  test("http body decode honors charset: param, meta prescan, utf-8 fallback") {
    def resp(ct: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
    def decode(ct: String, body: Array[Byte]): String = {
      val b = resp(ct, body)
      val h = Containers.httpResponse(b, 0, b.length)
      assert(h != null)
      Containers.decodeBody(b, h.bodyOffset, h.bodyLength, h.charset)
    }
    // declared charset parameter wins (quoted and bare forms)
    assert(decode("text/html; charset=windows-1251",
      "ёжик".getBytes("windows-1251")) == "ёжик")
    assert(decode("text/html; charset=\"Shift_JIS\"",
      "犬猫".getBytes("Shift_JIS")) == "犬猫")
    // charset param is exposed but stripped from the media type
    val r = resp("text/html; charset=KOI8-R", "мир".getBytes("KOI8-R"))
    val h = Containers.httpResponse(r, 0, r.length)
    assert(h.contentType == "text/html" && h.charset == "KOI8-R")
    // no param: the <meta charset> prescan decides
    assert(decode("text/html",
      "<html><head><meta charset=\"koi8-r\"><title>t</title></head><body>мир</body></html>"
        .getBytes("KOI8-R")) contains "мир")
    // http-equiv form
    assert(decode("text/html",
      ("<html><head><meta http-equiv=\"Content-Type\" " +
        "content=\"text/html; charset=windows-1251\"></head><body>ёж</body></html>")
        .getBytes("windows-1251")) contains "ёж")
    // REVERSED attribute order (widespread in legacy pages): the
    // prescan must be attribute-order independent like HTML5's
    assert(decode("text/html",
      ("<html><head><meta content=\"text/html; charset=windows-1251\" " +
        "http-equiv=\"Content-Type\"></head><body>ёж</body></html>")
        .getBytes("windows-1251")) contains "ёж")
    // unknown charset name degrades to UTF-8, never throws or drops
    assert(decode("text/html; charset=x-martian",
      "plain ascii".getBytes("US-ASCII")) == "plain ascii")
    // absent everything: UTF-8 (the ASCII superset)
    assert(decode("text/plain", "héllo".getBytes("UTF-8")) == "héllo")
  }

  test("tar: old-GNU sparse members expand with holes as zeros") {
    val f1 = Array.tabulate(12)(i => (i * 7 + 1).toByte)
    val f2 = Array.tabulate(9)(i => (i * 11 + 3).toByte)
    val member = Containers.synthTarSparseMember("hole.bin",
      Seq((0L, f1), (40L, f2)), 64L)
    val plain = Containers.synthTar(Seq("a.txt" ->
      Array.tabulate(10)(i => (i * 3).toByte)))
    val archive = plain.dropRight(1024) ++ member ++ new Array[Byte](1024)
    val es = Containers.tarEntries(archive)
    assert(es != null && es.length == 2)
    val sp = es(1)
    assert(sp.name == "hole.bin" && sp.typeflag == 'S')
    assert(sp.size == 21 && sp.realSize == 64)
    val data = Containers.tarEntryBytes(archive, sp)
    assert(data.length == 64)
    assert(data.slice(0, 12).toSeq == f1.toSeq)
    assert(data.slice(12, 40).forall(_ == 0)) // the hole
    assert(data.slice(40, 49).toSeq == f2.toSeq)
    assert(data.slice(49, 64).forall(_ == 0)) // trailing hole
    // sparse is NOT a profile gap anymore; dumpdir still is
    assert(!Containers.unsupportedTarProfile(archive))
    assert(Multimodal.mediaDecodeClass(archive) == ("tar", "ok"))
    // >4 fragments spill into isextended continuation blocks
    val many = (0 until 9).map(k =>
      (k * 30L, Array.tabulate(5)(i => (k * 16 + i + 1).toByte)))
    val ext = Containers.synthTarSparseMember("many.bin", many, 300L)
    val arc2 = plain.dropRight(1024) ++ ext ++ new Array[Byte](1024)
    val es2 = Containers.tarEntries(arc2)
    assert(es2 != null && es2.length == 2)
    val d2 = Containers.tarEntryBytes(arc2, es2(1))
    assert(d2.length == 300)
    for ((off, fb) <- many)
      assert(d2.slice(off.toInt, off.toInt + 5).toSeq == fb.toSeq)
    // a malformed map (fragment sum != packed size) is corrupt
    val bad = archive.clone()
    // shrink the first fragment's numbytes field (octal at 398)
    val hdrOff = plain.length - 1024
    bad(hdrOff + 398 + 9) = '0'.toByte
    // recompute the checksum so only the MAP is inconsistent
    java.util.Arrays.fill(bad, hdrOff + 148, hdrOff + 156, ' '.toByte)
    var sum = 0L
    for (k <- 0 until 512) sum += (bad(hdrOff + k) & 0xFF)
    val cs = "%06o".format(sum).getBytes("US-ASCII")
    System.arraycopy(cs, 0, bad, hdrOff + 148, 6)
    bad(hdrOff + 154) = 0; bad(hdrOff + 155) = ' '.toByte
    assert(Containers.tarEntries(bad) == null)
  }

}
