package graft.operators

import scala.collection.mutable.ArrayBuffer

/** From-scratch FLAC decoder + synthesizer.
  *
  * FLAC is the lossless format audio corpora actually ship in; after
  * PCM/G.711/ADPCM WAV, it is the natural next ingest codec and —
  * like them — pure algorithm (reference scope note: the ETL core
  * `etl.go:12-68` has no audio surface; this is extension frontier).
  * Implemented directly from the public format spec (RFC 9639):
  * STREAMINFO + metadata walk, frame headers with CRC-8, all four
  * subframe types (CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders
  * 1-32), partitioned Rice residuals (4- and 5-bit parameters plus
  * raw-bits escapes), wasted-bits shifts, the three stereo
  * decorrelations (left/side, right/side, mid/side), and frame
  * CRC-16.
  *
  * Decode posture matches every decoder here: degrade-don't-throw
  * (null on corruption), sample-count bomb cap, per-blob scalar
  * routine for `mapPartitions` ingest. No JVM/system FLAC exists in
  * this environment, so conformance is pinned the LZW way: the
  * synthesizer emits REAL frames (correct CRCs, real Rice streams)
  * and FlacSpec pins synthesizer↔decoder both directions plus
  * hand-computed Rice/bit-layout vectors.
  */
object Flac {

  private final class Err(msg: String)
    extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Err(msg)

  private val MaxSamples = 1 << 26 // 64M interleaved samples ≈ 256 MB

  final case class StreamInfo(sampleRate: Int, channels: Int, bps: Int,
      totalSamples: Long)

  def isFlac(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 && b(0) == 'f' && b(1) == 'L' &&
      b(2) == 'a' && b(3) == 'C'

  // ---- MSB-first bit reader -----------------------------------------

  private final class Bits(b: Array[Byte], start: Int, endExcl: Int) {
    private val limit = (endExcl - start).toLong * 8
    var bitPos: Long = 0
    def read(n: Int): Long = {
      if (bitPos + n > limit) fail("bitstream exhausted")
      var r = 0L
      var i = 0
      while (i < n) {
        val bi = bitPos + i
        r = (r << 1) | ((b(start + (bi >> 3).toInt) >> (7 - (bi & 7).toInt)) & 1)
        i += 1
      }
      bitPos += n
      r
    }
    def readSigned(n: Int): Long = {
      val v = read(n)
      if (n == 0) 0L
      else if ((v & (1L << (n - 1))) != 0) v - (1L << n)
      else v
    }
    /** Unary: count 0 bits up to the terminating 1. */
    def readUnary(): Int = {
      var q = 0
      while (read(1) == 0L) {
        q += 1
        if (q > (1 << 24)) fail("unary runaway")
      }
      q
    }
    def alignToByte(): Unit = { bitPos = (bitPos + 7) & ~7L }
    def exhausted: Boolean = bitPos >= limit
  }

  // ---- CRCs (frame header CRC-8 poly 0x07, frame CRC-16 poly 0x8005)

  private[graft] def crc8(b: Array[Byte], off: Int, len: Int): Int = {
    var crc = 0
    var i = 0
    while (i < len) {
      crc ^= b(off + i) & 0xFF
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF else (crc << 1) & 0xFF
        k += 1
      }
      i += 1
    }
    crc
  }

  private[graft] def crc16(b: Array[Byte], off: Int, len: Int): Int = {
    var crc = 0
    var i = 0
    while (i < len) {
      crc ^= (b(off + i) & 0xFF) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF
          else (crc << 1) & 0xFFFF
        k += 1
      }
      i += 1
    }
    crc
  }

  // ---- stream info ---------------------------------------------------

  /** Parse the mandatory STREAMINFO block; null if absent/damaged. */
  def streamInfo(b: Array[Byte]): StreamInfo = try {
    if (!isFlac(b) || b.length < 8 + 34) return null
    // STREAMINFO must be the first metadata block
    val t = b(4) & 0x7F
    if (t != 0) return null
    val len = ((b(5) & 0xFF) << 16) | ((b(6) & 0xFF) << 8) | (b(7) & 0xFF)
    if (len < 34 || 8 + len > b.length) return null
    val bits = new Bits(b, 8, 8 + 34)
    bits.read(16); bits.read(16) // min/max block size
    bits.read(24); bits.read(24) // min/max frame size
    val sr = bits.read(20).toInt
    val nch = bits.read(3).toInt + 1
    val bps = bits.read(5).toInt + 1
    val total = bits.read(36)
    if (sr == 0) return null
    StreamInfo(sr, nch, bps, total)
  } catch {
    case _: Err => null
    case _: ArrayIndexOutOfBoundsException => null
  }

  // ---- decode --------------------------------------------------------

  /** Decode all frames to interleaved channel samples. Null on any
    * corruption (bad sync, CRC mismatch, invalid subframe shapes,
    * residual overrun) — degrade-don't-throw.
    */
  def samples(b: Array[Byte]): Array[Int] = try {
    val info = streamInfo(b)
    if (info == null) return null
    // walk metadata blocks to the first frame
    var p = 4
    var last = false
    while (!last) {
      if (p + 4 > b.length) fail("metadata truncated")
      last = (b(p) & 0x80) != 0
      val len = ((b(p + 1) & 0xFF) << 16) | ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)
      p += 4 + len
      if (p > b.length) fail("metadata block past input")
    }
    frameSamples(b, p, info)
  } catch {
    case _: Err => null
    case _: ArrayIndexOutOfBoundsException => null
    case _: NegativeArraySizeException => null
  }

  /** Decode a raw frame sequence at `from` against an
    * already-parsed STREAMINFO — the entry the Ogg-FLAC mapping
    * needs, where the metadata travels in Ogg packets and the frames
    * arrive reassembled from page segments. Same null-on-corruption
    * contract as [[samples]].
    */
  def frameSamples(b: Array[Byte], from: Int, info: StreamInfo): Array[Int] = try {
    if (info == null || info.bps > 32) return null
    val out = new ArrayBuffer[Int](
      math.min(info.totalSamples * info.channels, MaxSamples.toLong).toInt.max(16))
    var p = from
    while (p < b.length) {
      p = decodeFrame(b, p, info, out)
      if (out.length > MaxSamples) fail("sample bomb")
    }
    if (info.totalSamples > 0 &&
        out.length != info.totalSamples * info.channels) fail("sample count mismatch")
    out.toArray
  } catch {
    case _: Err => null
    case _: ArrayIndexOutOfBoundsException => null
    case _: NegativeArraySizeException => null
  }

  private val SampleRateTable = Array(0, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000)

  /** Decode one frame starting at `p`; returns the offset past it. */
  private def decodeFrame(b: Array[Byte], p: Int, info: StreamInfo,
      out: ArrayBuffer[Int]): Int = {
    val bits = new Bits(b, p, b.length)
    if (bits.read(14) != 0x3FFE) fail("bad frame sync")
    if (bits.read(1) != 0) fail("reserved sync bit set")
    bits.read(1) // blocking strategy
    val bsCode = bits.read(4).toInt
    val srCode = bits.read(4).toInt
    val chCode = bits.read(4).toInt
    val ssCode = bits.read(3).toInt
    if (bits.read(1) != 0) fail("reserved header bit set")
    // UTF-8-style coded frame/sample number (up to 36 bits)
    val first = bits.read(8).toInt
    if (first >= 0x80) {
      var nOnes = 0
      var m = first
      while ((m & 0x80) != 0) { nOnes += 1; m <<= 1 }
      if (nOnes < 2 || nOnes > 7) fail("bad coded number")
      var i = 1
      while (i < nOnes) {
        if ((bits.read(8).toInt & 0xC0) != 0x80) fail("bad coded-number continuation")
        i += 1
      }
    }
    val blockSize = bsCode match {
      case 0 => fail("reserved block size code")
      case 1 => 192
      case c if c <= 5 => 576 << (c - 2)
      case 6 => bits.read(8).toInt + 1
      case 7 => bits.read(16).toInt + 1
      case c => 256 << (c - 8)
    }
    srCode match {
      case c if c <= 11 => () // streaminfo or table — value not needed here
      case 12 => bits.read(8)
      case 13 | 14 => bits.read(16)
      case _ => fail("invalid sample rate code")
    }
    val headerLen = (bits.bitPos >> 3).toInt // header is byte-aligned here
    val wantCrc8 = bits.read(8).toInt
    if (crc8(b, p, headerLen) != wantCrc8) fail("frame header CRC mismatch")
    val nch = if (chCode <= 7) chCode + 1 else 2
    if (chCode > 10) fail("reserved channel assignment")
    if (nch != info.channels) fail("channel count differs from STREAMINFO")
    val bps = ssCode match {
      case 0 => info.bps
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => fail("reserved sample size code")
    }
    if (out.length + blockSize.toLong * nch > MaxSamples) fail("sample bomb")
    // subframes (side channels carry one extra bit)
    val chans = new Array[Array[Long]](nch)
    var ch = 0
    while (ch < nch) {
      val extra = chCode match {
        case 8 => if (ch == 1) 1 else 0 // left/side
        case 9 => if (ch == 0) 1 else 0 // right/side
        case 10 => if (ch == 1) 1 else 0 // mid/side
        case _ => 0
      }
      chans(ch) = decodeSubframe(bits, blockSize, bps + extra)
      ch += 1
    }
    bits.alignToByte()
    val frameLen = (bits.bitPos >> 3).toInt
    val wantCrc16 = bits.read(16).toInt
    if (crc16(b, p, frameLen) != wantCrc16) fail("frame CRC mismatch")
    // stereo undo + interleave
    var i = 0
    while (i < blockSize) {
      chCode match {
        case 8 => // left/side: right = left - side
          val l = chans(0)(i); val s = chans(1)(i)
          out += l.toInt; out += (l - s).toInt
        case 9 => // right/side: left = right + side
          val s = chans(0)(i); val r = chans(1)(i)
          out += (r + s).toInt; out += r.toInt
        case 10 => // mid/side
          val mid = chans(0)(i); val side = chans(1)(i)
          val m2 = (mid << 1) | (side & 1)
          out += ((m2 + side) >> 1).toInt; out += ((m2 - side) >> 1).toInt
        case _ =>
          var c = 0
          while (c < nch) { out += chans(c)(i).toInt; c += 1 }
      }
      i += 1
    }
    p + (bits.bitPos >> 3).toInt
  }

  private def decodeSubframe(bits: Bits, blockSize: Int, bps: Int): Array[Long] = {
    if (bits.read(1) != 0) fail("subframe padding bit set")
    val tpe = bits.read(6).toInt
    var wasted = 0
    if (bits.read(1) == 1L) wasted = bits.readUnary() + 1
    val eff = bps - wasted
    if (eff <= 0 || eff > 33) fail("invalid effective bit depth")
    val s = new Array[Long](blockSize)
    if (tpe == 0) { // CONSTANT
      val v = bits.readSigned(eff)
      java.util.Arrays.fill(s, v)
    } else if (tpe == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { s(i) = bits.readSigned(eff); i += 1 }
    } else if (tpe >= 8 && tpe <= 12) { // FIXED order 0-4
      val order = tpe - 8
      if (order > blockSize) fail("fixed order exceeds block")
      var i = 0
      while (i < order) { s(i) = bits.readSigned(eff); i += 1 }
      decodeResidual(bits, blockSize, order, s)
      i = order
      while (i < blockSize) {
        s(i) += (order match {
          case 0 => 0L
          case 1 => s(i - 1)
          case 2 => 2 * s(i - 1) - s(i - 2)
          case 3 => 3 * s(i - 1) - 3 * s(i - 2) + s(i - 3)
          case _ => 4 * s(i - 1) - 6 * s(i - 2) + 4 * s(i - 3) - s(i - 4)
        })
        i += 1
      }
    } else if (tpe >= 32) { // LPC order 1-32
      val order = tpe - 31
      if (order > blockSize) fail("lpc order exceeds block")
      var i = 0
      while (i < order) { s(i) = bits.readSigned(eff); i += 1 }
      val precision = bits.read(4).toInt + 1
      if (precision == 16) fail("invalid lpc precision")
      val shift = bits.readSigned(5).toInt
      if (shift < 0) fail("negative lpc shift")
      val coefs = new Array[Long](order)
      i = 0
      while (i < order) { coefs(i) = bits.readSigned(precision); i += 1 }
      decodeResidual(bits, blockSize, order, s)
      i = order
      while (i < blockSize) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coefs(j) * s(i - 1 - j); j += 1 }
        s(i) += (acc >> shift)
        i += 1
      }
    } else fail("reserved subframe type")
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { s(i) <<= wasted; i += 1 }
    }
    s
  }

  /** Partitioned Rice residual into `s(order until blockSize)`. */
  private def decodeResidual(bits: Bits, blockSize: Int, order: Int,
      s: Array[Long]): Unit = {
    val method = bits.read(2).toInt
    if (method > 1) fail("reserved residual method")
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val po = bits.read(4).toInt
    val partitions = 1 << po
    if (blockSize % partitions != 0) fail("partition order does not divide block")
    val perPart = blockSize >> po
    var idx = order
    var part = 0
    while (part < partitions) {
      val count = if (part == 0) perPart - order else perPart
      if (count < 0) fail("order exceeds first partition")
      val param = bits.read(paramBits).toInt
      var k = 0
      if (param == escape) {
        val raw = bits.read(5).toInt
        while (k < count) {
          s(idx) = if (raw == 0) 0L else bits.readSigned(raw)
          idx += 1; k += 1
        }
      } else {
        while (k < count) {
          val q = bits.readUnary().toLong
          val u = (q << param) | bits.read(param)
          s(idx) = (u >>> 1) ^ -(u & 1L) // zigzag undo
          idx += 1; k += 1
        }
      }
      part += 1
    }
  }

  // ---- synthesizer ---------------------------------------------------

  private final class BitWriterMsb {
    private val bytes = ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nbits = 0
    def write(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1L).toInt
        nbits += 1
        if (nbits == 8) { bytes += cur.toByte; cur = 0; nbits = 0 }
        i -= 1
      }
    }
    def writeSigned(v: Long, n: Int): Unit = write(v & ((1L << n) - 1), n)
    def writeUnary(q: Int): Unit = { var i = 0; while (i < q) { write(0, 1); i += 1 }; write(1, 1) }
    def alignZero(): Unit = while (nbits != 0) write(0, 1)
    def result(): Array[Byte] = { alignZero(); bytes.toArray }
  }

  /** The FIXED-predictor residual at `order` for `x(i)`. */
  private def fixedResidual(x: Array[Long], i: Int, order: Int): Long = order match {
    case 0 => x(i)
    case 1 => x(i) - x(i - 1)
    case 2 => x(i) - 2 * x(i - 1) + x(i - 2)
    case 3 => x(i) - 3 * x(i - 1) + 3 * x(i - 2) - x(i - 3)
    case _ => x(i) - 4 * x(i - 1) + 6 * x(i - 2) - 4 * x(i - 3) + x(i - 4)
  }

  /** Rice-parameter choice keeping quotients ≤ 1 (tight enough for a
    * synthesizer): bit length of the max zigzag, minus one.
    */
  private def riceParamFor(res: Seq[Long]): Int = {
    var mx = 0L
    res.foreach { r => val u = (r << 1) ^ (r >> 63); if (u > mx) mx = u }
    if (mx == 0) 0 else math.min(30, 64 - java.lang.Long.numberOfLeadingZeros(mx) - 1)
  }

  /** Encoding shape of one subframe — the synthesizer's lever for
    * steering the decoder through EVERY branch it has (`order` −1 =
    * VERBATIM, 0-4 = FIXED; non-null `coefs` = LPC at that order with
    * `precision`-bit coefficients and right-`shift`; `po` = Rice
    * partition order, reduced per frame until it divides the block;
    * `escape` forces raw-bits partitions; `wasted` emits the
    * wasted-bits unary field — callers must pass samples divisible by
    * 2^wasted or the round-trip breaks by construction).
    */
  private final case class SubframeSpec(order: Int,
      coefs: Array[Long] = null, precision: Int = 0, shift: Int = 0,
      po: Int = 0, escape: Boolean = false, wasted: Int = 0)

  /** Emit one subframe per `spec`; CONSTANT when all-equal. */
  private def writeSubframe(bw: BitWriterMsb, x0: Array[Long], bps: Int,
      spec: SubframeSpec): Unit = {
    bw.write(0, 1) // padding
    if (x0.forall(_ == x0(0))) {
      bw.write(0, 6) // CONSTANT
      bw.write(0, 1) // no wasted bits
      bw.writeSigned(x0(0), bps)
      return
    }
    val wasted = spec.wasted
    val x = if (wasted == 0) x0 else x0.map(_ >> wasted)
    val eff = bps - wasted
    def writeWasted(): Unit =
      if (wasted == 0) bw.write(0, 1)
      else { bw.write(1, 1); bw.writeUnary(wasted - 1) }
    if (spec.order < 0 && spec.coefs == null) {
      bw.write(1, 6) // VERBATIM
      writeWasted()
      x.foreach(v => bw.writeSigned(v, eff))
      return
    }
    val order = if (spec.coefs != null) spec.coefs.length else spec.order
    if (spec.coefs != null) bw.write(32 + (order - 1), 6) // LPC
    else bw.write(8 + order, 6) // FIXED
    writeWasted()
    var i = 0
    while (i < order) { bw.writeSigned(x(i), eff); i += 1 }
    if (spec.coefs != null) {
      bw.write((spec.precision - 1).toLong, 4)
      bw.writeSigned(spec.shift.toLong, 5)
      spec.coefs.foreach(c => bw.writeSigned(c, spec.precision))
    }
    val res: IndexedSeq[Long] =
      if (spec.coefs != null)
        (order until x.length).map { j =>
          var acc = 0L
          var k = 0
          while (k < order) { acc += spec.coefs(k) * x(j - 1 - k); k += 1 }
          x(j) - (acc >> spec.shift)
        }
      else (order until x.length).map(j => fixedResidual(x, j, order))
    // partition order: largest ≤ spec.po that divides the block with
    // the warm-up samples still fitting inside the first partition
    // (short last frames legitimately force a lower order — real
    // encoders re-pick per frame the same way)
    var po = spec.po
    while (po > 0 && (x.length % (1 << po) != 0 || (x.length >> po) <= order))
      po -= 1
    val partitions = 1 << po
    val perPart = x.length >> po
    val globalParam = riceParamFor(res)
    val method = if (!spec.escape && globalParam > 14) 1 else 0
    val paramBits = if (method == 0) 4 else 5
    val escapeCode = (1 << paramBits) - 1
    bw.write(method, 2)
    bw.write(po.toLong, 4)
    var part = 0
    var idx = 0
    while (part < partitions) {
      val count = if (part == 0) perPart - order else perPart
      val slice = res.slice(idx, idx + count)
      if (spec.escape) {
        // raw-bits escape: the minimal signed width holding every
        // residual in the partition (0 = all-zero partition)
        var raw = 0
        slice.foreach { r =>
          var n = 1
          while (n < 32 && (r < -(1L << (n - 1)) || r >= (1L << (n - 1)))) n += 1
          if (r != 0 && n > raw) raw = n
        }
        bw.write(escapeCode, paramBits)
        bw.write(raw.toLong, 5)
        if (raw > 0) slice.foreach(r => bw.writeSigned(r, raw))
      } else {
        val param = math.min(riceParamFor(slice), escapeCode - 1)
        bw.write(param.toLong, paramBits)
        slice.foreach { r =>
          val u = (r << 1) ^ (r >> 63)
          bw.writeUnary((u >>> param).toInt)
          bw.write(u & ((1L << param) - 1), param)
        }
      }
      idx += count
      part += 1
    }
  }

  private def writeCodedNumber(bw: BitWriterMsb, n: Long): Unit = {
    if (n < 0x80) { bw.write(n, 8); return }
    // UTF-8-style: k-byte form carries (7−k) + 6(k−1) = 5k+1 payload bits
    var bytesNeeded = 2
    while (bytesNeeded < 7 && n >= (1L << (5 * bytesNeeded + 1)))
      bytesNeeded += 1
    val lead = (0xFF << (8 - bytesNeeded)) & 0xFF
    val payloadHigh = (n >> (6 * (bytesNeeded - 1))).toInt
    bw.write(lead | payloadHigh, 8)
    var k = bytesNeeded - 2
    while (k >= 0) {
      bw.write(0x80 | ((n >> (6 * k)) & 0x3F).toInt, 8)
      k -= 1
    }
  }

  /** Real FLAC stream from interleaved 16-bit samples. `mode` picks
    * the subframe shape so tests and corpora can steer the decoder
    * through every branch it has:
    *  - "fixed0".."fixed4" — FIXED prediction at that order,
    *    Rice-coded residuals ("fixed3"/"fixed4" at partition order 2);
    *  - "verbatim";
    *  - "lpc2" — LPC order 2, coefs (3,−1), 5-bit precision, shift 1,
    *    partition order 2;
    *  - "lpc8" — LPC order 8 with mixed-sign coefficients at shift 2;
    *    noise input drives the Rice parameter past 14, so this is
    *    also the RICE2 (5-bit parameter) path;
    *  - "escape" — FIXED order 1 with raw-bits escape partitions
    *    (partition order 1, per-partition minimal signed width,
    *    raw = 0 for all-zero partitions);
    *  - "wasted2" — FIXED order 1 with 2 wasted bits (callers must
    *    pass samples divisible by 4);
    *  - stereo only: "leftside" (channel 1 = side, 17-bit subframe),
    *    "rightside" (channel 0 = side), "midside" (floor-averaged mid
    *    + side with the parity bit the decoder reconstitutes).
    * Constant blocks collapse to CONSTANT automatically.
    */
  def synthFlac(sampleRate: Int, channels: Int, interleaved: Array[Int],
      blockSize: Int = 256, mode: String = "fixed2"): Array[Byte] = {
    val (header, frames) =
      synthFlacParts(sampleRate, channels, interleaved, blockSize, mode)
    val out = new java.io.ByteArrayOutputStream()
    out.write(header, 0, header.length)
    frames.foreach(f => out.write(f, 0, f.length))
    out.toByteArray
  }

  /** The two halves of [[synthFlac]] separately: the `fLaC` header
    * with its STREAMINFO block, and each complete frame (header +
    * CRC-8 + subframes + CRC-16) as its own array — the granularity
    * the Ogg-FLAC mapping packetizes at (one frame per packet).
    */
  private[operators] def synthFlacParts(sampleRate: Int, channels: Int,
      interleaved: Array[Int], blockSize: Int = 256,
      mode: String = "fixed2"): (Array[Byte], Seq[Array[Byte]]) = {
    require(channels == 1 || channels == 2)
    require(interleaved.length % channels == 0)
    val nSamples = interleaved.length / channels
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val si = new BitWriterMsb
    si.write(blockSize.toLong, 16); si.write(blockSize.toLong, 16)
    si.write(0, 24); si.write(0, 24)
    si.write(sampleRate.toLong, 20)
    si.write((channels - 1).toLong, 3)
    si.write(15, 5) // bps 16
    si.write(nSamples.toLong, 36)
    si.write(0, 64); si.write(0, 64) // md5 zeros
    val siBytes = si.result()
    out.write(0x80) // last metadata block, type 0
    out.write(0); out.write(0); out.write(siBytes.length)
    out.write(siBytes, 0, siBytes.length)
    val frames = Seq.newBuilder[Array[Byte]]
    var frameIdx = 0L
    var pos = 0
    while (pos < nSamples) {
      val bs = math.min(blockSize, nSamples - pos)
      val bw = new BitWriterMsb
      bw.write(0x3FFE, 14)
      bw.write(0, 1)
      bw.write(0, 1) // fixed blocking
      bw.write(if (bs <= 256) 6 else 7, 4)
      bw.write(0, 4) // sample rate from streaminfo
      val chCode =
        if (channels == 2) mode match {
          case "leftside" => 8
          case "rightside" => 9
          case "midside" => 10
          case _ => 1
        } else 0
      bw.write(chCode.toLong, 4)
      bw.write(4, 3) // 16-bit
      bw.write(0, 1)
      writeCodedNumber(bw, frameIdx)
      if (bs <= 256) bw.write((bs - 1).toLong, 8) else bw.write((bs - 1).toLong, 16)
      val headerBytes = bw.result()
      val spec = mode match {
        case "fixed0" => SubframeSpec(0)
        case "fixed1" => SubframeSpec(1)
        case "fixed2" => SubframeSpec(2)
        case "fixed3" => SubframeSpec(3, po = 2)
        case "fixed4" => SubframeSpec(4, po = 2)
        case "verbatim" => SubframeSpec(-1)
        case "lpc2" => SubframeSpec(-1, coefs = Array(3L, -1L),
          precision = 5, shift = 1, po = 2)
        case "lpc8" => SubframeSpec(-1,
          coefs = Array(2L, -3L, 1L, 0L, -1L, 2L, 0L, 1L),
          precision = 6, shift = 2)
        case "escape" => SubframeSpec(1, po = 1, escape = true)
        case "wasted2" => SubframeSpec(1, wasted = 2)
        case "leftside" | "rightside" => SubframeSpec(1)
        case "midside" => SubframeSpec(2)
        case other => sys.error(s"unknown synth mode $other")
      }
      val body = new BitWriterMsb
      if (chCode >= 8) {
        def left(i: Int) = interleaved((pos + i) * 2).toLong
        def right(i: Int) = interleaved((pos + i) * 2 + 1).toLong
        val side = Array.tabulate(bs)(i => left(i) - right(i))
        chCode match {
          case 8 =>
            writeSubframe(body, Array.tabulate(bs)(left), 16, spec)
            writeSubframe(body, side, 17, spec) // side: one extra bit
          case 9 =>
            writeSubframe(body, side, 17, spec)
            writeSubframe(body, Array.tabulate(bs)(right), 16, spec)
          case _ =>
            // mid is the FLOOR average; the side channel's parity bit
            // restores the dropped low bit on decode
            val mid = Array.tabulate(bs)(i => (left(i) + right(i)) >> 1)
            writeSubframe(body, mid, 16, spec)
            writeSubframe(body, side, 17, spec)
        }
      } else {
        var c = 0
        while (c < channels) {
          val chan = Array.tabulate(bs)(i => interleaved((pos + i) * channels + c).toLong)
          writeSubframe(body, chan, 16, spec)
          c += 1
        }
      }
      val bodyBytes = body.result() // zero-padded to a byte
      val frame = new Array[Byte](headerBytes.length + 1 + bodyBytes.length + 2)
      System.arraycopy(headerBytes, 0, frame, 0, headerBytes.length)
      frame(headerBytes.length) = crc8(headerBytes, 0, headerBytes.length).toByte
      System.arraycopy(bodyBytes, 0, frame, headerBytes.length + 1, bodyBytes.length)
      val c16 = crc16(frame, 0, frame.length - 2)
      frame(frame.length - 2) = ((c16 >> 8) & 0xFF).toByte
      frame(frame.length - 1) = (c16 & 0xFF).toByte
      frames += frame
      pos += bs
      frameIdx += 1
    }
    (out.toByteArray, frames.result())
  }
}
