package graft.operators

import java.io.{IOException, InputStream}
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream

/** bzip2 decode through commons-compress, plus a fixture synthesizer —
  * the compression Wikipedia dumps and many academic corpus drops ship
  * in (`.xml.bz2`, `.tar.bz2` shards, `.warc.bz2` crawls).
  * `BZip2CompressorInputStream` verifies block and stream CRCs and
  * reads the deprecated bzip2-0.9.0 `randomised` blocks. This adapter
  * adds the decode posture every decoder here shares:
  *   - the bomb cap, counted across all concatenated streams while
  *     reading;
  *   - never-throw: damage and output past `cap` come back as
  *     [[Corrupt]] / null;
  *   - the multistream walk (pbzip2 and Wikipedia multistream dumps
  *     concatenate byte-aligned streams, each with its own level),
  *     which tolerates trailing bytes that do not start a stream
  *     after at least one sound one (gzip-member parity) — the
  *     library's own concatenated mode rejects those.
  * (Reference scope note: the ETL core `etl.go:12-68` has no
  * compression surface; extension frontier.)
  */
object Bzip2 {

  /** bzip2-0.9.0's randomisation table (`randtable.c`, public-domain
    * data shipped by every bzip2 since): entry k is the run length
    * after which the next output byte's low bit is flipped.
    * Bzip2Spec pins all 512 values against commons-compress's
    * independent transcription.
    */
  private[graft] val RNums: Array[Int] = Array(
    619, 720, 127, 481, 931, 816, 813, 233, 566, 247, 985, 724,
    205, 454, 863, 491, 741, 242, 949, 214, 733, 859, 335, 708,
    621, 574, 73, 654, 730, 472, 419, 436, 278, 496, 867, 210,
    399, 680, 480, 51, 878, 465, 811, 169, 869, 675, 611, 697,
    867, 561, 862, 687, 507, 283, 482, 129, 807, 591, 733, 623,
    150, 238, 59, 379, 684, 877, 625, 169, 643, 105, 170, 607,
    520, 932, 727, 476, 693, 425, 174, 647, 73, 122, 335, 530,
    442, 853, 695, 249, 445, 515, 909, 545, 703, 919, 874, 474,
    882, 500, 594, 612, 641, 801, 220, 162, 819, 984, 589, 513,
    495, 799, 161, 604, 958, 533, 221, 400, 386, 867, 600, 782,
    382, 596, 414, 171, 516, 375, 682, 485, 911, 276, 98, 553,
    163, 354, 666, 933, 424, 341, 533, 870, 227, 730, 475, 186,
    263, 647, 537, 686, 600, 224, 469, 68, 770, 919, 190, 373,
    294, 822, 808, 206, 184, 943, 795, 384, 383, 461, 404, 758,
    839, 887, 715, 67, 618, 276, 204, 918, 873, 777, 604, 560,
    951, 160, 578, 722, 79, 804, 96, 409, 713, 940, 652, 934,
    970, 447, 318, 353, 859, 672, 112, 785, 645, 863, 803, 350,
    139, 93, 354, 99, 820, 908, 609, 772, 154, 274, 580, 184,
    79, 626, 630, 742, 653, 282, 762, 623, 680, 81, 927, 626,
    789, 125, 411, 521, 938, 300, 821, 78, 343, 175, 128, 250,
    170, 774, 972, 275, 999, 639, 495, 78, 352, 126, 857, 956,
    358, 619, 580, 124, 737, 594, 701, 612, 669, 112, 134, 694,
    363, 992, 809, 743, 168, 974, 944, 375, 748, 52, 600, 747,
    642, 182, 862, 81, 344, 805, 988, 739, 511, 655, 814, 334,
    249, 515, 897, 955, 664, 981, 649, 113, 974, 459, 893, 228,
    433, 837, 553, 268, 926, 240, 102, 654, 459, 51, 686, 754,
    806, 760, 493, 403, 415, 394, 687, 700, 946, 670, 656, 610,
    738, 392, 760, 799, 887, 653, 978, 321, 576, 617, 626, 502,
    894, 679, 243, 440, 680, 879, 194, 572, 640, 724, 926, 56,
    204, 700, 707, 151, 457, 449, 797, 195, 791, 558, 945, 679,
    297, 59, 87, 824, 713, 663, 412, 693, 342, 606, 134, 108,
    571, 364, 631, 212, 174, 643, 304, 329, 343, 97, 430, 751,
    497, 314, 983, 374, 822, 928, 140, 206, 73, 263, 980, 736,
    876, 478, 430, 305, 170, 514, 364, 692, 829, 82, 855, 953,
    676, 246, 369, 970, 294, 750, 807, 827, 150, 790, 288, 923,
    804, 378, 215, 828, 592, 281, 565, 555, 710, 82, 896, 831,
    547, 261, 524, 462, 293, 465, 502, 56, 661, 821, 976, 991,
    658, 869, 905, 758, 745, 193, 768, 550, 608, 933, 378, 286,
    215, 979, 792, 961, 61, 688, 793, 644, 986, 403, 106, 366,
    905, 644, 372, 567, 466, 434, 645, 210, 389, 550, 919, 135,
    780, 773, 635, 389, 707, 100, 626, 958, 165, 504, 920, 176,
    193, 713, 857, 265, 203, 50, 668, 108, 645, 990, 626, 197,
    510, 357, 358, 850, 858, 364, 936, 638)

  def isBzip2(b: Array[Byte]): Boolean = isBzip2At(b, 0)

  private def isBzip2At(b: Array[Byte], off: Int): Boolean =
    b != null && b.length - off >= 4 && b(off) == 'B' && b(off + 1) == 'Z' &&
      b(off + 2) == 'h' && b(off + 3) >= '1' && b(off + 3) <= '9'

  /** Non-reflected CRC-32 (poly 0x04C11DB7, init all-ones, final
    * complement) — bzip2's own convention, NOT the zlib CRC.
    */
  private val CrcTable: Array[Int] = Array.tabulate(256) { n =>
    var c = n << 24
    var k = 0
    while (k < 8) {
      c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04C11DB7 else c << 1
      k += 1
    }
    c
  }

  sealed trait Result
  final case class Ok(bytes: Array[Byte]) extends Result
  case object Corrupt extends Result

  /** Decode a complete `.bz2` file, one or more streams: [[Corrupt]]
    * for structural damage, CRC mismatch, or output past `cap`.
    */
  def decodeResult(b: Array[Byte], cap: Long = 1L << 30): Result = {
    if (!isBzip2(b)) return Corrupt
    val in = new Input(b)
    try {
      val out = new Capped.Sink(cap, b.length * 4L)
      // one library stream per bzip2 stream: it stops on the byte
      // after its end-of-stream marker, where the next one starts
      do {
        val s = new BZip2CompressorInputStream(in, false)
        try out.readAll(s) finally s.close()
      } while (isBzip2At(b, in.pos))
      Ok(out.result)
    } catch {
      case _: IOException | _: RuntimeException => Corrupt
    }
  }

  /** The compressed bytes as an unsynchronised stream: the library's
    * bit reader pulls one byte per call, and `ByteArrayInputStream`
    * takes a lock on each. `pos` is where the next stream starts.
    */
  private final class Input(b: Array[Byte]) extends InputStream {
    var pos = 0
    override def read(): Int =
      if (pos < b.length) { pos += 1; b(pos - 1) & 0xFF } else -1
    override def read(dst: Array[Byte], off: Int, len: Int): Int =
      if (pos >= b.length) -1
      else {
        val n = math.min(len, b.length - pos)
        System.arraycopy(b, pos, dst, off, n)
        pos += n
        n
      }
  }

  /** Bytes or null — the degrade-don't-throw contract. */
  def decode(b: Array[Byte], cap: Long = 1L << 30): Array[Byte] =
    decodeResult(b, cap) match {
      case Ok(bytes) => bytes
      case _ => null
    }

  /** The 0.9.0 randomisation walk (its own inverse, so a reader undoes
    * it with the same walk): after [[RNums]](k) bytes, flip
    * the next byte's low bit, the counter reloading from the table
    * cyclically — the reference `BZ_RAND_UPD_MASK` sequence exactly.
    */
  private def applyRandomisation(buf: Array[Byte], len: Int): Unit = {
    var rNToGo = 0
    var rTPos = 0
    var i = 0
    while (i < len) {
      if (rNToGo == 0) {
        rNToGo = RNums(rTPos)
        rTPos += 1
        if (rTPos == 512) rTPos = 0
      }
      rNToGo -= 1
      if (rNToGo == 1) buf(i) = (buf(i) ^ 1).toByte
      i += 1
    }
  }

  // ---- synthesizer ------------------------------------------------------
  // Write-side counterpart for corpora and round-trip pins. Emits
  // spec-valid single-stream files whose blocks use TWO identical
  // flat-length canonical Huffman tables (the minimum group count).
  // The independent commons-compress reader is the conformance pin —
  // for the RANDOMISED profile especially, where its own `randtable`
  // transcription must agree with [[RNums]] byte-for-byte for the
  // cross-decode to survive. Naive rotation-sort BWT: synthesis-side
  // only, small fixture blocks.

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var n = 0
    def write(v: Int, k: Int): Unit = {
      var left = k
      while (left > 0) {
        val take = math.min(8 - n, left)
        cur = (cur << take) | ((v >> (left - take)) & ((1 << take) - 1))
        n += take
        left -= take
        if (n == 8) { out.write(cur); cur = 0; n = 0 }
      }
    }
    def writeLong(v: Long, k: Int): Unit = {
      var left = k
      while (left > 0) {
        val take = math.min(24, left)
        write(((v >> (left - take)) & ((1L << take) - 1)).toInt, take)
        left -= take
      }
    }
    def result(): Array[Byte] = {
      if (n > 0) { out.write(cur << (8 - n)); cur = 0; n = 0 }
      out.toByteArray
    }
  }

  /** Encode `data` as a complete single-stream `.bz2` file at the
    * given level, optionally using the deprecated 0.9.0 RANDOMISED
    * block profile (the shape no modern encoder can produce, so the
    * decode path would otherwise be untestable).
    */
  def synthBzip2(data: Array[Byte], level: Int = 1,
      randomised: Boolean = false): Array[Byte] = {
    require(level >= 1 && level <= 9)
    val maxBlock = level * 100000
    val bw = new BitWriter
    bw.write('B'.toInt, 8); bw.write('Z'.toInt, 8); bw.write('h'.toInt, 8)
    bw.write('1'.toInt + level - 1, 8)
    var combined = 0
    var off = 0
    // split the PLAINTEXT so each block's RLE1 output fits maxBlock
    // (RLE1 expands at most 5/4)
    val chunk = math.max(1, maxBlock * 4 / 5 - 1)
    while (off < data.length) {
      val end = math.min(data.length, off + chunk)
      combined = writeBlock(bw,
        java.util.Arrays.copyOfRange(data, off, end), randomised, combined)
      off = end
    }
    bw.writeLong(0x177245385090L, 48)
    bw.writeLong(combined.toLong & 0xFFFFFFFFL, 32)
    bw.result()
  }

  private def writeBlock(bw: BitWriter, plain: Array[Byte],
      randomised: Boolean, combined: Int): Int = {
    // block CRC is over the ORIGINAL bytes, randomised or not
    var crc = 0xFFFFFFFF
    var i = 0
    while (i < plain.length) {
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ (plain(i) & 0xFF)) & 0xFF)
      i += 1
    }
    val blockCrc = ~crc
    // RLE1
    val r1 = new java.io.ByteArrayOutputStream(plain.length + 8)
    i = 0
    while (i < plain.length) {
      val c = plain(i)
      var run = 1
      while (run < 255 + 4 && i + run < plain.length && plain(i + run) == c)
        run += 1
      if (run >= 4) {
        r1.write(c); r1.write(c); r1.write(c); r1.write(c)
        r1.write(run - 4)
      } else {
        var k2 = 0
        while (k2 < run) { r1.write(c); k2 += 1 }
      }
      i += run
    }
    val block = r1.toByteArray
    // 0.9.0 randomisation: AFTER RLE1, BEFORE BWT — the mirror of
    // the reader's pass after its inverse BWT
    if (randomised) applyRandomisation(block, block.length)
    // BWT by naive rotation sort
    val n = block.length
    val idx = Array.range(0, n).sortWith { (a, b) =>
      var k = 0
      var lt = false
      var done = false
      while (!done && k < n) {
        val ca = block((a + k) % n) & 0xFF
        val cb = block((b + k) % n) & 0xFF
        if (ca != cb) { lt = ca < cb; done = true }
        k += 1
      }
      lt
    }
    val bwt = new Array[Byte](n)
    i = 0
    while (i < n) { bwt(i) = block((idx(i) + n - 1) % n); i += 1 }
    val origPtr = idx.indexOf(0)
    // used-byte map + compacted alphabet
    val used = new Array[Boolean](256)
    i = 0
    while (i < n) { used(block(i) & 0xFF) = true; i += 1 }
    val seqIdx = new Array[Int](256)
    var nInUse = 0
    i = 0
    while (i < 256) {
      if (used(i)) { seqIdx(i) = nInUse; nInUse += 1 }
      i += 1
    }
    val alphaSize = nInUse + 2
    // MTF + RLE2 over the BWT string
    val mtf = Array.tabulate(nInUse)(identity)
    val syms = new scala.collection.mutable.ArrayBuffer[Int](n + 8)
    var zeroRun = 0
    def flushRun(): Unit = {
      var r = zeroRun
      while (r > 0) {
        r -= 1
        syms += (r & 1) // RUNA=0 / RUNB=1 bijective base-2
        r >>= 1
      }
      zeroRun = 0
    }
    i = 0
    while (i < n) {
      val v = seqIdx(bwt(i) & 0xFF)
      var j = 0
      while (mtf(j) != v) j += 1
      if (j == 0) zeroRun += 1
      else {
        flushRun()
        syms += j + 1
        var m = j
        while (m > 0) { mtf(m) = mtf(m - 1); m -= 1 }
        mtf(0) = v
      }
      i += 1
    }
    flushRun()
    syms += alphaSize - 1 // EOB
    // flat-length canonical code: every symbol at length L, code ==
    // symbol value (the (length, symbol)-ordered canonical assignment)
    var codeLen = 1
    while ((1 << codeLen) < alphaSize) codeLen += 1
    // headers
    bw.writeLong(0x314159265359L, 48)
    bw.writeLong(blockCrc.toLong & 0xFFFFFFFFL, 32)
    bw.write(if (randomised) 1 else 0, 1)
    bw.write(origPtr, 24)
    var groupMask = 0
    var g = 0
    while (g < 16) {
      var any = false
      i = 0
      while (i < 16) { if (used(g * 16 + i)) any = true; i += 1 }
      if (any) groupMask |= 0x8000 >> g
      g += 1
    }
    bw.write(groupMask, 16)
    g = 0
    while (g < 16) {
      if ((groupMask & (0x8000 >> g)) != 0) {
        var m = 0
        i = 0
        while (i < 16) { if (used(g * 16 + i)) m |= 0x8000 >> i; i += 1 }
        bw.write(m, 16)
      }
      g += 1
    }
    bw.write(2, 3) // nGroups: the spec minimum
    val nSelectors = (syms.length + 49) / 50
    bw.write(nSelectors, 15)
    i = 0
    while (i < nSelectors) { bw.write(0, 1); i += 1 } // all table 0
    g = 0
    while (g < 2) { // two identical delta-coded length tables
      bw.write(codeLen, 5)
      var s = 0
      while (s < alphaSize) { bw.write(0, 1); s += 1 }
      g += 1
    }
    i = 0
    while (i < syms.length) { bw.write(syms(i), codeLen); i += 1 }
    ((combined << 1) | (combined >>> 31)) ^ blockCrc
  }
}
