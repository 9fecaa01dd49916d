package graft.operators

/** From-scratch ZIP archive walk — the OTHER shard container real
  * datasets ship in (image sets, Kaggle-style dumps, document
  * corpora distribute as `.zip` at least as often as WebDataset
  * tar). (Reference scope note: the ETL core `etl.go:12-68` has no
  * archive surface; extension frontier.)
  *
  * Implemented from the public APPNOTE layout: end-of-central-
  * directory scan from the tail (tolerating a trailing comment),
  * central-directory entry walk, per-member LOCAL header re-read for
  * the true data offset (local and central extra fields legitimately
  * differ), the STORED, DEFLATE, BZIP2 (12), Zstandard (93), and XZ
  * (95) methods — the latter three through the [[Bzip2]]/[[Zstd]]/
  * [[Xz]] library adapters — CRC-32 + size
  * verification per member, and ZIP64 (the >4 GiB format shape):
  * 0xFFFF/0xFFFFFFFF sentinels resolve through the ZIP64 EOCD
  * locator/record and each entry's 0x0001 extended-information
  * extra field.
  *
  * Decode posture matches every parser here: degrade-don't-throw
  * (null on damage), expansion bomb cap shared across members, ONE
  * reset() Inflater per archive (the Deflater lesson), per-blob
  * scalar routines for `mapPartitions` ingest. Conformance is pinned
  * against `java.util.zip.ZipOutputStream` both directions in
  * ZipSpec (the JDK ships a zip writer even though it ships no tar).
  */
object Zip {

  private val MaxExpandedBytes = 1L << 30

  /** `flags` = the general-purpose bit field: IMPLODE keys its
    * dictionary size (bit 1: 8K vs 4K) and tree count (bit 2: 3 vs 2)
    * there, so member decode needs it.
    */
  final case class ZipEntry(name: String, method: Int, crc: Long,
      compressedSize: Long, size: Long, localOffset: Long, flags: Int = 0)

  def isZip(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 && b(0) == 'P' && b(1) == 'K' &&
      (b(2) == 3 || b(2) == 5) && (b(3) == b(2) + 1)

  private def leU16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def leU32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  private def leU64(b: Array[Byte], i: Int): Long =
    leU32(b, i) | (leU32(b, i + 4) << 32)

  /** True when the archive uses ZIP64 extensions (the >4 GiB format
    * shape): the EOCD's 0xFFFF entry-count / 0xFFFFFFFF
    * central-directory sentinels — the ZIP64-EOCD-locator case — or
    * per-member size/offset sentinels. Informational: ZIP64 archives
    * DECODE through the same walk (the sentinels resolve via the
    * 0x0001 extended-information extra field and the ZIP64 EOCD
    * record).
    */
  def isZip64(b: Array[Byte]): Boolean = {
    val eocd = eocdOffset(b)
    if (eocd < 0) return false
    if (leU16(b, eocd + 10) == 0xFFFF ||
        leU32(b, eocd + 12) == 0xFFFFFFFFL ||
        leU32(b, eocd + 16) == 0xFFFFFFFFL)
      return true
    val es = entries(b)
    es != null && es.exists(e =>
      e.size == 0xFFFFFFFFL || e.compressedSize == 0xFFFFFFFFL ||
        e.localOffset == 0xFFFFFFFFL)
  }

  /** Central-directory walk via the EOCD record, resolving ZIP64
    * sentinels through the ZIP64 EOCD locator/record and each
    * entry's 0x0001 extra field. Null on damage.
    */
  def entries(b: Array[Byte]): Array[ZipEntry] = entriesOrNull(b)

  /** Resolve the ZIP64 extended-information extra field (id 0x0001)
    * for a central entry whose fixed fields carry sentinels: the
    * field packs 8-byte size, compressed size, and local offset — in
    * that order, ONLY for the fields that are 0xFFFFFFFF. Returns
    * (size, csize, localOffset) or null on a malformed field.
    */
  private def resolve64(b: Array[Byte], extraOff: Int, extraLen: Int,
      usize: Long, csize: Long, lho: Long): (Long, Long, Long) = {
    if (usize != 0xFFFFFFFFL && csize != 0xFFFFFFFFL && lho != 0xFFFFFFFFL)
      return (usize, csize, lho)
    var p = extraOff
    val end = extraOff + extraLen
    while (p + 4 <= end) {
      val id = leU16(b, p)
      val len = leU16(b, p + 2)
      if (p + 4 + len > end) return null
      if (id == 1) {
        var q = p + 4
        val fEnd = p + 4 + len
        var u = usize
        var c = csize
        var l = lho
        if (u == 0xFFFFFFFFL) { if (q + 8 > fEnd) return null; u = leU64(b, q); q += 8 }
        if (c == 0xFFFFFFFFL) { if (q + 8 > fEnd) return null; c = leU64(b, q); q += 8 }
        if (l == 0xFFFFFFFFL) { if (q + 8 > fEnd) return null; l = leU64(b, q); q += 8 }
        if (u < 0 || c < 0 || l < 0) return null
        return (u, c, l)
      }
      p += 4 + len
    }
    null // sentinel fields with no ZIP64 extra: malformed
  }

  /** EOCD record offset: scan back over a possible comment (≤ 65535
    * bytes), accepting only a comment-length-consistent record. −1
    * when absent.
    */
  private def eocdOffset(b: Array[Byte]): Int = {
    if (b == null || b.length < 22) return -1
    var p = b.length - 22
    val stop = math.max(0, b.length - 22 - 65535)
    while (p >= stop) {
      if (b(p) == 'P' && b(p + 1) == 'K' && b(p + 2) == 5 && b(p + 3) == 6 &&
          p + 22 + leU16(b, p + 20) == b.length) return p
      p -= 1
    }
    -1
  }

  private def entriesOrNull(b: Array[Byte]): Array[ZipEntry] = try {
    val eocd = eocdOffset(b)
    if (eocd < 0) return null
    var n = leU16(b, eocd + 10).toLong
    if (n != leU16(b, eocd + 8)) return null // multi-disk: not a shard
    var cdSize = leU32(b, eocd + 12)
    var cdOff = leU32(b, eocd + 16)
    var cdEnd = eocd.toLong
    if (n == 0xFFFF || cdSize == 0xFFFFFFFFL || cdOff == 0xFFFFFFFFL) {
      // ZIP64: the 20-byte EOCD locator sits immediately before the
      // EOCD and points at the ZIP64 EOCD record
      val loc = eocd - 20
      if (loc < 0 || leU32(b, loc) != 0x07064b50L) return null
      if (leU32(b, loc + 4) != 0 || leU32(b, loc + 16) != 1)
        return null // multi-disk
      val z64 = leU64(b, loc + 8)
      if (z64 < 0 || z64 + 56 > loc) return null
      val z = z64.toInt
      if (leU32(b, z) != 0x06064b50L) return null
      if (leU32(b, z + 16) != 0 || leU32(b, z + 20) != 0) return null // disks
      val total = leU64(b, z + 32)
      if (total != leU64(b, z + 24) || total < 0 || total > Int.MaxValue)
        return null
      n = total
      cdSize = leU64(b, z + 40)
      cdOff = leU64(b, z + 48)
      cdEnd = z64
    }
    if (cdSize < 0 || cdOff < 0 || cdOff + cdSize > cdEnd) return null
    // a central entry is >= 46 bytes, so the claimed count is bounded
    // by the directory size — reject forged 64-bit counts BEFORE
    // allocating (degrade, don't OOM)
    if (n > cdSize / 46) return null
    val out = new Array[ZipEntry](n.toInt)
    var q = cdOff.toInt
    var k = 0
    while (k < n) {
      if (q + 46 > cdEnd || leU32(b, q) != 0x02014b50L) return null
      val flags = leU16(b, q + 8)
      val method = leU16(b, q + 10)
      val crc = leU32(b, q + 16)
      val csize = leU32(b, q + 20)
      val usize = leU32(b, q + 24)
      val nlen = leU16(b, q + 28)
      val xlen = leU16(b, q + 30)
      val clen = leU16(b, q + 32)
      val lho = leU32(b, q + 42)
      if (q + 46 + nlen + xlen > cdEnd) return null
      val name = new String(b, q + 46, nlen,
        java.nio.charset.StandardCharsets.UTF_8)
      val r = resolve64(b, q + 46 + nlen, xlen, usize, csize, lho)
      if (r == null) return null
      out(k) = ZipEntry(name, method, crc, r._2, r._1, r._3, flags)
      q += 46 + nlen + xlen + clen
      k += 1
    }
    out
  } catch { case _: ArrayIndexOutOfBoundsException => null }

  /** One member's PLAIN bytes: re-read its LOCAL header for the true
    * data offset, then STORED copy or raw-DEFLATE inflate, verified
    * against the central directory's CRC-32 and size. The caller's
    * `inf` is reset per member (one native context per archive);
    * `budget` caps cumulative expansion. Null on any mismatch.
    */
  private def entryBytesWith(b: Array[Byte], e: ZipEntry,
      inf: java.util.zip.Inflater, budget: Long,
      password: Array[Byte]): Array[Byte] = try {
    // 64-bit offsets must be bounds-checked BEFORE the Int narrowing
    // (2^32+k would otherwise wrap onto another member's header)
    if ((e.flags & 1) != 0 && password == null)
      return null // encrypted without a key: a named gap, below
    if (e.localOffset < 0 || e.localOffset > b.length - 30) return null
    val p = e.localOffset.toInt
    if (leU32(b, p) != 0x04034b50L) return null
    val nlen = leU16(b, p + 26)
    val xlen = leU16(b, p + 28)
    val data = p + 30 + nlen + xlen
    if (data + e.compressedSize > b.length) return null
    if (e.size > budget) return null // expansion bomb
    // traditional ZipCrypto (APPNOTE 6.1): csize counts the 12-byte
    // crypt header; decrypt it + the member stream, quick-reject on
    // the header's check byte (high byte of the CRC — unless bit 3
    // deferred the CRC to a data descriptor, where Info-ZIP stores
    // the DOS-time high byte we don't track; the member CRC below is
    // the real gate either way)
    var src = b
    var off = data
    var clen = e.compressedSize.toInt
    if ((e.flags & 1) != 0) {
      if (clen < 12) return null
      val cipher = new ZipCipher(password)
      val dec = new Array[Byte](clen)
      var i = 0
      while (i < clen) {
        dec(i) = cipher.decrypt(b(data + i) & 0xFF).toByte
        i += 1
      }
      if ((e.flags & 8) == 0 && (dec(11) & 0xFF) != (e.crc >>> 24).toInt)
        return null
      src = dec
      off = 12
      clen -= 12
    }
    val out: Array[Byte] = e.method match {
      case 0 => // STORED
        if (clen != e.size) return null
        java.util.Arrays.copyOfRange(src, off, off + e.size.toInt)
      case 8 => // DEFLATE (raw); a stream longer than declared is past the cap
        val r = Capped.inflate(inf, src, off, clen, e.size, e.size)
        if (r == null || r.bytes.length != e.size) return null
        r.bytes
      case 12 | 93 | 95 =>
        // the codec-matrix methods: the member data is a complete
        // stream of its codec (APPNOTE 4.4.5 bzip2 / 4.4.13 zstd /
        // 4.4.15 xz), decoded through this engine's own decoders
        val dec: (Array[Byte], Long) => Array[Byte] = e.method match {
          case 12 => Bzip2.decode(_, _)
          case 93 => Zstd.decode(_, _)
          case _ => Xz.decode(_, _)
        }
        val got = dec(
          java.util.Arrays.copyOfRange(src, off, off + clen), e.size)
        if (got == null || got.length != e.size) return null
        got
      case 14 =>
        // LZMA (APPNOTE 4.4.4): [version u16][propsSize u16][props],
        // props = 1 lc/lp/pb byte + LE32 dictionary size (irrelevant
        // here — the whole member is in memory), then the raw LZMA1
        // stream; the declared size bounds the decode, so EOS-marker
        // and marker-less streams both read
        if (clen < 9) return null
        if (leU16(src, off + 2) != 5) return null
        val got = Xz.decodeLzma1(src, off + 9,
          off + clen, src(off + 4) & 0xFF, e.size.toInt)
        if (got == null) return null
        got
      case 1 => // SHRINK (PKZIP 1.x dynamic LZW, APPNOTE 4.3)
        val got = shrinkDecode(src, off, off + clen, e.size.toInt)
        if (got == null) return null
        got
      case 6 => // IMPLODE (PKZIP 1.x Shannon-Fano + sliding dict)
        val got = implodeDecode(src, off, off + clen,
          e.size.toInt, e.flags)
        if (got == null) return null
        got
      case 2 | 3 | 4 | 5 => // REDUCE (PKZIP 0.9 follower sets + DLE)
        val got = reduceDecode(src, off, off + clen,
          e.size.toInt, e.method - 1)
        if (got == null) return null
        got
      case 9 => // DEFLATE64 (enhanced deflate, 64K window)
        val got = Inflate64.inflate(src, off, off + clen, e.size.toInt)
        if (got == null) return null
        got
      case 10 => // DCL implode (PKWARE Data Compression Library)
        val got = dclDecode(src, off, off + clen, e.size.toInt)
        if (got == null) return null
        got
      case _ => return null // ppmd 98 and friends: unsupported
    }
    val crc = new java.util.zip.CRC32()
    crc.update(out)
    if ((crc.getValue & 0xFFFFFFFFL) != e.crc) return null
    out
  } catch {
    case _: ArrayIndexOutOfBoundsException => null
  }

  /** Decode every FILE member (directories — trailing '/' — are
    * structural, skipped) as (name, plainBytes). Null when the
    * directory walk or ANY member fails — a shard with a corrupt
    * member is a shard to quarantine, not half-read. One Inflater
    * serves the whole archive, `end()`ed on every path.
    */
  def members(b: Array[Byte]): Array[(String, Array[Byte])] =
    members(b, null)

  /** [[members]] with a password for traditionally-ENCRYPTED members
    * (ZipCrypto, APPNOTE 6.1) — the legacy scheme real-world dataset
    * drops still ship in. A wrong password fails the crypt header's
    * check byte or the member CRC, quarantining the shard like any
    * damage; unencrypted members in the same archive read normally.
    */
  def members(b: Array[Byte],
      password: Array[Byte]): Array[(String, Array[Byte])] = {
    val es = entries(b)
    if (es == null) null
    else Capped.withInflater(raw = true)(inf => filesWith(b, es, inf, password))
  }

  private def filesWith(b: Array[Byte], es: Array[ZipEntry],
      inf: java.util.zip.Inflater,
      password: Array[Byte]): Array[(String, Array[Byte])] = {
    val files = es.filterNot(_.name.endsWith("/"))
    val out = new Array[(String, Array[Byte])](files.length)
    var budget = MaxExpandedBytes
    var k = 0
    while (k < files.length) {
      val got = entryBytesWith(b, files(k), inf, budget, password)
      if (got == null) return null
      budget -= got.length
      out(k) = (files(k).name, got)
      k += 1
    }
    out
  }

  // ---- DCL IMPLODE (method 10): the PKWARE Data Compression -----------
  // Library's format ("blast" in zlib's contrib, where Mark Adler
  // documented it publicly). Two header bytes: literal mode (0 =
  // raw 8-bit literals, 1 = literals through the fixed 256-symbol
  // Huffman table) and log2(dictionary)-6 (4..6 → 1K/2K/4K). Then a
  // bitstream (LSB-first bytes) of flag bits: 0 = literal, 1 =
  // match; match length through a fixed 16-symbol code (bases
  // 3,2,4..264 — symbol 1 is the special LENGTH-2 match — plus 0-8
  // extra bits), distance high 6 bits through a fixed 64-symbol
  // code, low bits raw (2 when length==2, else the dictionary log).
  // THE format quirk: Huffman code bits are stored INVERTED
  // (complemented) in the stream. Fixed tables ship as the PKWARE
  // compact rep (low nibble = length-1... low 4 bits = bit length,
  // high 4 = repeat-1), identical to the public spec's constants.

  /** Canonical-Huffman table in the DCL convention: shortest codes
    * first, symbols ASCENDING within a length (puff-style — the
    * opposite symbol order of the APPNOTE Shannon-Fano [[SfTree]]),
    * with per-symbol (code, len) kept for the write side.
    */
  private final class DclTable(val lens: Array[Int]) {
    val count = new Array[Int](16)
    val symAt = new Array[Int](lens.length)
    val code = new Array[Int](lens.length)
    locally {
      lens.foreach(l => count(l) += 1)
      val offs = new Array[Int](16)
      for (l <- 1 until 15) offs(l + 1) = offs(l) + count(l)
      val next = offs.clone()
      for (s <- lens.indices if lens(s) != 0) {
        symAt(next(lens(s))) = s
        next(lens(s)) += 1
      }
      // canonical code values per symbol, for the encoder
      var c = 0
      var idx = 0
      for (l <- 1 to 15) {
        var k = count(l)
        while (k > 0) {
          code(symAt(idx)) = c
          c += 1
          idx += 1
          k -= 1
        }
        c <<= 1
      }
    }
  }

  private def dclBuild(rep: Array[Int], n: Int): DclTable = {
    val lens = new Array[Int](n)
    var sym = 0
    rep.foreach { v =>
      val len = v & 15
      var r = (v >> 4) + 1
      while (r > 0) { lens(sym) = len; sym += 1; r -= 1 }
    }
    require(sym == n, s"rep covers $sym of $n")
    new DclTable(lens)
  }

  private lazy val DclLit = dclBuild(Array(11, 124, 8, 7, 28, 7, 188, 13,
    76, 4, 10, 8, 12, 10, 12, 10, 8, 23, 8, 9, 7, 6, 7, 8, 7, 6, 55, 8,
    23, 24, 12, 11, 7, 9, 11, 12, 6, 7, 22, 5, 7, 24, 6, 11, 9, 6, 7,
    22, 7, 11, 38, 7, 9, 8, 25, 11, 8, 11, 9, 12, 8, 12, 5, 38, 5, 38,
    5, 11, 7, 5, 6, 21, 6, 10, 53, 8, 7, 24, 10, 27, 44, 253, 253, 253,
    252, 252, 252, 13, 12, 45, 12, 45, 12, 61, 12, 45, 44, 173), 256)
  private lazy val DclLen = dclBuild(Array(2, 35, 36, 53, 38, 23), 16)
  private lazy val DclDist = dclBuild(Array(2, 20, 53, 230, 247, 151, 248), 64)

  private val DclLenBase = Array(3, 2, 4, 5, 6, 7, 8, 9, 10, 12, 16, 24,
    40, 72, 136, 264)
  private val DclLenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 3, 4, 5,
    6, 7, 8)

  /** Read one fixed-table symbol; the stream stores code bits
    * INVERTED, so flip each before the canonical walk.
    */
  private def dclRead(t: DclTable, br: BitsLsb): Int = {
    var code = 0
    var first = 0
    var index = 0
    var l = 1
    while (l <= 15) {
      val bit = br.bit()
      if (bit < 0) return -1
      code |= bit ^ 1
      val cnt = t.count(l)
      if (code - first < cnt) return t.symAt(index + (code - first))
      index += cnt
      first = (first + cnt) << 1
      code <<= 1
      l += 1
    }
    -1
  }

  private[graft] def dclDecode(b: Array[Byte], start: Int, endExcl: Int,
      outSize: Int): Array[Byte] = {
    if (start + 2 > endExcl) return null
    val codedLits = b(start) & 0xFF
    val dictLog = b(start + 1) & 0xFF
    if (codedLits > 1 || dictLog < 4 || dictLog > 6) return null
    val br = new BitsLsb(b, start + 2, endExcl)
    val out = new Array[Byte](outSize)
    var outLen = 0
    while (outLen < outSize) {
      br.bit() match {
        case -1 => return null
        case 0 => // literal
          val lit = if (codedLits == 1) dclRead(DclLit, br) else br.bits(8)
          if (lit < 0) return null
          out(outLen) = lit.toByte
          outLen += 1
        case _ => // match
          val ls = dclRead(DclLen, br)
          if (ls < 0) return null
          val extra = br.bits(DclLenExtra(ls))
          if (extra < 0) return null
          val len = DclLenBase(ls) + extra
          if (len == 519) return null // end marker before outSize met
          val lowBits = if (len == 2) 2 else dictLog
          val hi = dclRead(DclDist, br)
          if (hi < 0) return null
          val lo = br.bits(lowBits)
          if (lo < 0) return null
          val dist = (hi << lowBits) + lo + 1
          if (dist > outLen || outLen + len > outSize) return null
          var k = 0
          while (k < len) { // byte-wise: overlaps replicate
            out(outLen) = out(outLen - dist)
            outLen += 1
            k += 1
          }
      }
    }
    out
  }

  /** DCL-implode COMPRESS (uncoded-literal mode, the simpler legal
    * profile; matches >= 3 through the real fixed tables, code bits
    * complemented on write exactly as on read).
    */
  private[graft] def dclEncode(data: Array[Byte], dictLog: Int = 6): Array[Byte] = {
    require(dictLog >= 4 && dictLog <= 6)
    val out = new java.io.ByteArrayOutputStream(data.length + 32)
    out.write(0) // uncoded literals
    out.write(dictLog)
    var bitBuf = 0L
    var bitCnt = 0
    def putBits(v: Int, k: Int): Unit = { // LSB-first
      bitBuf |= (v.toLong & ((1L << k) - 1)) << bitCnt
      bitCnt += k
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xFF).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }
    def putCode(t: DclTable, s: Int): Unit = { // MSB-first, INVERTED
      var k = t.lens(s) - 1
      while (k >= 0) {
        putBits(((t.code(s) >> k) & 1) ^ 1, 1)
        k -= 1
      }
    }
    val dictSize = 64 << dictLog
    val lowBits = dictLog
    // 519 is the end marker, not a length
    LzGreedy.compress(data, dictSize, 3, 264 + 254) { lit =>
      putBits(0, 1)
      putBits(lit, 8)
    } { (matched, dist) =>
      putBits(1, 1)
      // length symbol: the largest base <= matched (its extra
      // range always covers the gap to the next base)
      var ls = 15
      while (DclLenBase(ls) > matched || ls == 1) ls -= 1
      putCode(DclLen, ls)
      putBits(matched - DclLenBase(ls), DclLenExtra(ls))
      val dm1 = dist - 1
      putCode(DclDist, dm1 >> lowBits)
      putBits(dm1 & ((1 << lowBits) - 1), lowBits)
    }
    // the documented end marker: length symbol 15 with extra 255
    putBits(1, 1)
    putCode(DclLen, 15)
    putBits(255, 8)
    if (bitCnt > 0) out.write((bitBuf & 0xFF).toInt)
    out.toByteArray
  }

  // ---- traditional ZipCrypto (APPNOTE 6.1) ----------------------------
  // Three rolling 32-bit keys seeded by the password; every PLAINTEXT
  // byte updates them (k0/k2 through CRC-32 steps, k1 through an LCG),
  // and each stream byte XORs with a value derived from k2's low half.
  // A 12-byte header precedes the member stream; its last byte echoes
  // the CRC's high byte for cheap wrong-password rejection.

  private val CrcTab: Array[Int] = Array.tabulate(256) { n =>
    var c = n
    var k = 0
    while (k < 8) {
      c = if ((c & 1) != 0) 0xEDB88320 ^ (c >>> 1) else c >>> 1
      k += 1
    }
    c
  }

  private final class ZipCipher(password: Array[Byte]) {
    private var k0 = 0x12345678
    private var k1 = 0x23456789
    private var k2 = 0x34567890
    private def step(key: Int, b: Int): Int =
      (key >>> 8) ^ CrcTab((key ^ b) & 0xFF)
    private def update(p: Int): Unit = {
      k0 = step(k0, p)
      k1 = (k1 + (k0 & 0xFF)) * 134775813 + 1
      k2 = step(k2, k1 >>> 24)
    }
    password.foreach(b => update(b & 0xFF))
    private def streamByte(): Int = {
      val t = (k2 | 2) & 0xFFFF
      ((t * (t ^ 1)) >>> 8) & 0xFF
    }
    def decrypt(c: Int): Int = {
      val p = (c ^ streamByte()) & 0xFF
      update(p)
      p
    }
    def encrypt(p: Int): Int = {
      val c = (p ^ streamByte()) & 0xFF
      update(p & 0xFF)
      c
    }
  }

  /** Does any member lie outside the decodable profile — a method
    * beyond STORED 0, SHRINK 1, REDUCE 2-5, IMPLODE 6, DEFLATE 8,
    * DEFLATE64 9, DCL-IMPLODE 10, and (through the library-adapter
    * codec matrix) BZIP2 12, LZMA 14, Zstandard 93,
    * XZ 95 — or traditional ENCRYPTION without a key (general-
    * purpose bit 0)? PPMd 98 and keyless encrypted members are the
    * "ship a profile" answer, distinct from damage.
    */
  def unsupportedMethod(b: Array[Byte]): Boolean = {
    val es = entries(b)
    es != null && es.exists(e => (e.flags & 1) != 0 || (e.method match {
      case 0 | 1 | 2 | 3 | 4 | 5 | 6 | 8 | 9 | 10 | 12 | 14 | 93 | 95 =>
        false
      case _ => true
    }))
  }

  // ---- REDUCE (methods 2-5): follower sets + DLE expansion -------------
  // APPNOTE 4.3's "Reducing" is two chained stages ("etl-pack has no
  // codec layer at all; this closes the last PKZIP method a single
  // shard can carry"). The stored bitstream is the PROBABILISTIC
  // stage: 256 follower sets transmitted S(255) down to S(0), each a
  // 6-bit size N(j) (0..32) then N(j) 8-bit members. Decoding tracks
  // the previous character j: an empty S(j) reads a raw byte with NO
  // flag; a non-empty one reads 1 flag bit, then a raw byte (1) or a
  // B(N(j))-bit index into S(j) (0), where B(n) = bits to represent
  // n-1, minimum 1. The recovered bytes then EXPAND: DLE (144)
  // escapes a (length, distance) pair whose bit split depends on the
  // factor (method - 1): Len = V's low (8-factor) bits, == mask pulls
  // one extra length byte; distance = (V >> (8-factor)) * 256 + next
  // byte + 1; copy Len + 3 bytes. DLE,0 is a literal DLE. The window
  // (2^factor * 256 bytes) is zero-initialized — pre-start reaches
  // produce zeros, the convention every historical unreducer keeps.

  /** B(n): bits needed for an index into an n-member follower set. */
  private def reduceB(n: Int): Int =
    if (n > 16) 5 else if (n > 8) 4 else if (n > 4) 3
    else if (n > 2) 2 else 1

  private final val ReduceDle = 144

  private def reduceDecode(b: Array[Byte], start: Int, endExcl: Int,
      outSize: Int, factor: Int): Array[Byte] = {
    val br = new BitsLsb(b, start, endExcl)
    val setLen = new Array[Int](256)
    val sets = new Array[Array[Byte]](256)
    var j = 255
    while (j >= 0) {
      val n = br.bits(6)
      if (n < 0 || n > 32) return null
      setLen(j) = n
      if (n > 0) {
        val s = new Array[Byte](n)
        var k = 0
        while (k < n) {
          val v = br.bits(8)
          if (v < 0) return null
          s(k) = v.toByte
          k += 1
        }
        sets(j) = s
      }
      j -= 1
    }
    val out = new Array[Byte](outSize)
    var outLen = 0
    val shift = 8 - factor
    val mask = (1 << shift) - 1
    var last = 0
    var state = 0 // 0 literal, 1 post-DLE, 2 extra length, 3 distance low
    var len = 0
    var v = 0
    while (outLen < outSize) {
      val n = setLen(last)
      val c =
        if (n == 0) br.bits(8)
        else br.bit() match {
          case -1 => -1
          case 1 => br.bits(8)
          case _ =>
            val idx = br.bits(reduceB(n))
            if (idx < 0 || idx >= n) -1 else sets(last)(idx) & 0xFF
        }
      if (c < 0) return null
      last = c
      state match {
        case 0 =>
          if (c == ReduceDle) state = 1
          else { out(outLen) = c.toByte; outLen += 1 }
        case 1 =>
          if (c == 0) {
            out(outLen) = ReduceDle.toByte
            outLen += 1
            state = 0
          } else {
            v = c
            len = c & mask
            state = if (len == mask) 2 else 3
          }
        case 2 =>
          len += c
          state = 3
        case _ =>
          val dist = ((v >> shift) << 8) + c + 1
          val total = len + 3
          if (outLen + total > outSize) return null
          var k = 0
          while (k < total) { // byte-wise: overlaps replicate
            val src = outLen - dist
            out(outLen) = if (src < 0) 0 else out(src)
            outLen += 1
            k += 1
          }
          state = 0
      }
    }
    out
  }

  /** The expanding stage's ENCODER: greedy LZ over the factor's
    * 2^factor*256 window with DLE escapes (matches >= 4 — a 3-byte
    * match costs its own 3 escape bytes; literal DLE doubles to
    * DLE,0). V is never 0 by construction: its length bits are >= 1
    * (or == mask >= 15 on the extra-byte path).
    */
  private def reduceExpandEncode(data: Array[Byte], factor: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    val shift = 8 - factor
    val mask = (1 << shift) - 1
    LzGreedy.compress(data, 256 << factor, 4, mask + 255 + 3) { lit =>
      out.write(lit)
      if (lit == ReduceDle) out.write(0)
    } { (matched, dist) =>
      val dm1 = dist - 1
      val len = matched - 3
      out.write(ReduceDle)
      if (len >= mask) {
        out.write(((dm1 >> 8) << shift) | mask)
        out.write(len - mask)
      } else out.write(((dm1 >> 8) << shift) | len)
      out.write(dm1 & 0xFF)
    }
    out.toByteArray
  }

  /** The probabilistic stage's ENCODER: follower sets hold each
    * predecessor's repeat followers (frequency >= 2, capped at the
    * spec's 32), so streams exercise all three decode paths — coded
    * index, 9-bit escape, and raw bytes under empty sets.
    */
  private def reduceProbEncode(mid: Array[Byte]): Array[Byte] = {
    val freq = Array.ofDim[Int](256, 256)
    var last = 0
    var i = 0
    while (i < mid.length) {
      freq(last)(mid(i) & 0xFF) += 1
      last = mid(i) & 0xFF
      i += 1
    }
    val sets = Array.tabulate(256) { j =>
      (0 until 256).filter(c => freq(j)(c) >= 2)
        .sortBy(c => (-freq(j)(c), c)).take(32).toArray
    }
    val idxIn = Array.fill(256)(Array.fill(256)(-1))
    for (j <- 0 until 256; k <- sets(j).indices) idxIn(j)(sets(j)(k)) = k
    val out = new java.io.ByteArrayOutputStream(mid.length + 256)
    var bitBuf = 0L
    var bitCnt = 0
    def putBits(v: Int, k: Int): Unit = { // LSB-first
      bitBuf |= (v.toLong & ((1L << k) - 1)) << bitCnt
      bitCnt += k
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xFF).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }
    var j = 255
    while (j >= 0) {
      putBits(sets(j).length, 6)
      sets(j).foreach(c => putBits(c, 8))
      j -= 1
    }
    last = 0
    i = 0
    while (i < mid.length) {
      val c = mid(i) & 0xFF
      if (sets(last).length == 0) putBits(c, 8)
      else {
        val k = idxIn(last)(c)
        if (k < 0) { putBits(1, 1); putBits(c, 8) }
        else { putBits(0, 1); putBits(k, reduceB(sets(last).length)) }
      }
      last = c
      i += 1
    }
    if (bitCnt > 0) out.write((bitBuf & 0xFF).toInt)
    out.toByteArray
  }

  /** REDUCE-compress at `factor` 1-4 (method = factor + 1): the
    * expanding stage then the probabilistic stage, matching PKZIP
    * 0.9's order — no modern tool writes OR reads this, so the pair
    * is pinned by APPNOTE-derived hand vectors plus round-trip.
    */
  private[graft] def reduceEncode(data: Array[Byte], factor: Int): Array[Byte] =
    reduceProbEncode(reduceExpandEncode(data, factor))

  /** Spec-visible decode entry for [[reduceDecode]] hand vectors. */
  private[graft] def reduceDecodeForTest(b: Array[Byte], outSize: Int,
      factor: Int): Array[Byte] = reduceDecode(b, 0, b.length, outSize, factor)

  /** Spec-visible entries for the DCL pair's golden vectors. */
  private[graft] def dclDecodeForTest(b: Array[Byte], outSize: Int): Array[Byte] =
    dclDecode(b, 0, b.length, outSize)
  private[graft] def dclEncodeForTest(data: Array[Byte], dictLog: Int): Array[Byte] =
    dclEncode(data, dictLog)

  // ---- SHRINK (method 1): PKZIP 1.x dynamic LZW ------------------------
  // LSB-first codes, width 9→13 grown ONLY by the explicit (256,1)
  // escape, (256,2) = partial clear: leaf entries (those no live
  // entry uses as a prefix) become reusable, their CONTENTS retained
  // until overwritten — the convention every unshrink implementation
  // relies on, since the previous-code string may sit in a freed
  // slot. Entries are added implicitly, one per code received:
  // (previous code, first byte of the current string), at the lowest
  // free slot. The same table object serves encode and decode so the
  // two sides can never disagree on allocation order.

  private final class ShrinkTable {
    val prefix = new Array[Int](8192)
    val suffix = new Array[Byte](8192)
    val used = new Array[Boolean](8192)
    private var scanFrom = 257

    /** Allocate (p, s) at the lowest free slot; -1 when full. */
    def alloc(p: Int, s: Byte): Int = {
      var i = scanFrom
      while (i < 8192 && used(i)) i += 1
      if (i >= 8192) return -1
      prefix(i) = p
      suffix(i) = s
      used(i) = true
      scanFrom = i + 1
      i
    }

    def partialClear(): Unit = {
      val isPrefix = new Array[Boolean](8192)
      var i = 257
      while (i < 8192) {
        if (used(i) && prefix(i) >= 257) isPrefix(prefix(i)) = true
        i += 1
      }
      i = 257
      while (i < 8192) {
        if (used(i) && !isPrefix(i)) used(i) = false
        i += 1
      }
      scanFrom = 257
    }
  }

  /** Decode a SHRINK stream to exactly `outSize` bytes; null on
    * exhausted input, invalid escapes, or overrun.
    */
  private def shrinkDecode(b: Array[Byte], start: Int, endExcl: Int,
      outSize: Int): Array[Byte] = {
    val out = new Array[Byte](outSize)
    var outLen = 0
    var width = 9
    var bitBuf = 0L
    var bitCnt = 0
    var pos = start
    def readCode(): Int = {
      while (bitCnt < width) {
        if (pos >= endExcl) return -1
        bitBuf |= (b(pos) & 0xFFL) << bitCnt
        pos += 1
        bitCnt += 8
      }
      val v = (bitBuf & ((1 << width) - 1)).toInt
      bitBuf >>>= width
      bitCnt -= width
      v
    }
    val t = new ShrinkTable
    val stack = new Array[Byte](8192)
    var prevCode = -1
    var prevFirst: Byte = 0
    while (outLen < outSize) {
      val c = readCode()
      if (c < 0) return null
      if (c == 256) {
        readCode() match {
          case 1 => if (width < 13) width += 1 else return null
          case 2 => t.partialClear()
          case _ => return null
        }
        // specials do NOT touch prevCode: the next implicit add still
        // pairs with the last real code
      } else {
        var sp = 0
        var cur = c
        if (cur >= 257 && !t.used(cur)) {
          // KwKwK: the code the implicit add is about to create
          if (prevCode < 0) return null
          stack(sp) = prevFirst
          sp += 1
          cur = prevCode
        }
        while (cur >= 257) {
          // freed-slot contents are traversed as-is (see above)
          stack(sp) = t.suffix(cur)
          sp += 1
          if (sp >= stack.length) return null
          cur = t.prefix(cur)
        }
        if (cur < 0 || cur > 255) return null
        val first = cur.toByte
        if (outLen + 1 + sp > outSize) return null
        out(outLen) = first
        outLen += 1
        var k = sp - 1
        while (k >= 0) {
          out(outLen) = stack(k)
          outLen += 1
          k -= 1
        }
        if (prevCode >= 0) t.alloc(prevCode, first)
        prevCode = c
        prevFirst = first
      }
    }
    out
  }

  /** SHRINK-compress `data` — the write side no modern tool ships, so
    * fixtures for the decoder must come from here: real dynamic LZW
    * with lazy width escapes and a partial clear when the 13-bit
    * table fills. commons-compress's ZipFile READS shrunk entries, so
    * the independent pin for this encoder/decoder pair is its
    * cross-read.
    */
  private def shrinkEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    var width = 9
    var bitBuf = 0L
    var bitCnt = 0
    def emit(v: Int): Unit = {
      bitBuf |= (v.toLong & 0x1FFF) << bitCnt
      bitCnt += width
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xFF).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }
    def emitWidened(v: Int): Unit = {
      while (v >= (1 << width)) { emit(256); emit(1); width += 1 }
      emit(v)
    }
    if (data.isEmpty) return Array.emptyByteArray
    val t = new ShrinkTable
    val map = scala.collection.mutable.HashMap.empty[(Int, Byte), Int]
    // The decoder (ours AND commons-compress's) performs each implicit
    // add only AFTER expanding the next code — a one-code lag. With
    // slot reuse after a partial clear, an alloc can land on a slot a
    // live chain still passes through, so an entry must not become
    // reachable until the code following its creation has been
    // emitted: defer the map insertion by one emit.
    var pending: ((Int, Byte), Int) = null
    var w = data(0) & 0xFF
    var i = 1
    while (i < data.length) {
      val c = data(i)
      map.get((w, c)) match {
        case Some(code) => w = code
        case None =>
          emitWidened(w)
          if (pending != null) {
            map(pending._1) = pending._2
            pending = null
          }
          var slot = t.alloc(w, c)
          if (slot < 0) {
            // table full: partial-clear in the stream AND locally,
            // then the add lands at the lowest reclaimed slot — the
            // decoder mirrors both steps in the same order
            emit(256); emit(2)
            t.partialClear()
            map.clear()
            var k = 257
            while (k < 8192) {
              if (t.used(k)) map((t.prefix(k), t.suffix(k))) = k
              k += 1
            }
            slot = t.alloc(w, c)
          }
          if (slot >= 0) pending = (((w, c), slot))
          w = c & 0xFF
      }
      i += 1
    }
    emitWidened(w)
    if (bitCnt > 0) out.write((bitBuf & 0xFF).toInt)
    out.toByteArray
  }

  // ---- IMPLODE (method 6): PKZIP 1.x Shannon-Fano + sliding dict -------
  // General-purpose bit 1 selects the 8K dictionary (else 4K), bit 2
  // a third Shannon-Fano tree coding literals (else raw 8-bit
  // literals; minimum match length 3 vs 2). The trees are transmitted
  // BYTE-aligned ahead of the bit stream as (count-1 | length-1)
  // nibble pairs; codes are built with the APPNOTE 4.3.2 16-bit
  // construction over (length, symbol)-sorted entries processed in
  // reverse, each truncated code transmitted MSB-FIRST through the
  // LSB-first byte stream (pinned against commons-compress's
  // exploder, which walks its tree in that order).

  /** LSB-first bit reader (gzip bit order — implode's data stream). */
  private final class BitsLsb(b: Array[Byte], start: Int, endExcl: Int) {
    private var pos = start
    private var cur = 0
    private var n = 0
    def bit(): Int = {
      if (n == 0) {
        if (pos >= endExcl) return -1
        cur = b(pos) & 0xFF
        pos += 1
        n = 8
      }
      val v = cur & 1
      cur >>= 1
      n -= 1
      v
    }
    def bits(k: Int): Int = {
      var v = 0
      var i = 0
      while (i < k) {
        val t = bit()
        if (t < 0) return -1
        v |= t << i
        i += 1
      }
      v
    }
  }

  /** One Shannon-Fano table over `lens` (bit length per symbol).
    * The APPNOTE construction assigns CONTIGUOUS code values to each
    * same-length group (ascending code = descending symbol), so
    * decode is O(1) range arithmetic per probe — no hashing in the
    * per-symbol hot loop (the flat-table convention every sibling
    * decoder here uses).
    */
  private final class SfTree(val lens: Array[Int]) {
    val code = new Array[Int](lens.length)
    private val lo = Array.fill(17)(Int.MaxValue)
    private val hi = Array.fill(17)(-1)
    private val symAtLo = new Array[Int](17)
    locally {
      val order = lens.indices.sortBy(s => (lens(s), s))
      var c = 0
      var inc = 0
      var last = 0
      var i = order.length - 1
      while (i >= 0) {
        val s = order(i)
        c += inc
        if (lens(s) != last) {
          last = lens(s)
          inc = 1 << (16 - last)
        }
        val l = lens(s)
        code(s) = c >> (16 - l)
        if (code(s) < lo(l)) { lo(l) = code(s); symAtLo(l) = s }
        if (code(s) > hi(l)) hi(l) = code(s)
        i -= 1
      }
    }

    /** Symbol for a complete length-`l` code of value `v`, else -1.
      * Readers accumulate MSB-first; prefix-freeness makes the first
      * in-range depth the unique match.
      */
    def sym(l: Int, v: Int): Int =
      if (l < 17 && v >= lo(l) && v <= hi(l)) symAtLo(l) - (v - lo(l))
      else -1
  }

  /** Parse one transmitted tree (`nSymbols` total); (tree, posAfter)
    * or null on malformed pairs.
    */
  private def sfParse(b: Array[Byte], pos0: Int, end: Int,
      nSymbols: Int): (SfTree, Int) = {
    if (pos0 >= end) return null
    val nPairs = (b(pos0) & 0xFF) + 1
    if (pos0 + 1 + nPairs > end) return null
    val lens = new Array[Int](nSymbols)
    var sym = 0
    var i = 0
    while (i < nPairs) {
      val v = b(pos0 + 1 + i) & 0xFF
      val len = (v & 0x0F) + 1
      val cnt = (v >> 4) + 1
      if (sym + cnt > nSymbols) return null
      var k = 0
      while (k < cnt) {
        lens(sym) = len
        sym += 1
        k += 1
      }
      i += 1
    }
    if (sym != nSymbols) return null
    (new SfTree(lens), pos0 + 1 + nPairs)
  }

  /** Read one SF-coded symbol (code bits MSB-first); -1 on
    * exhaustion or a 16-bit miss.
    */
  private def sfRead(t: SfTree, br: BitsLsb): Int = {
    var v = 0
    var l = 0
    while (l < 16) {
      val bit = br.bit()
      if (bit < 0) return -1
      v = (v << 1) | bit
      l += 1
      val s = t.sym(l, v)
      if (s >= 0) return s
    }
    -1
  }

  /** Decode an IMPLODE stream to exactly `outSize` bytes under the
    * entry's general-purpose `flags`; null on damage.
    */
  private def implodeDecode(b: Array[Byte], start: Int, endExcl: Int,
      outSize: Int, flags: Int): Array[Byte] = {
    val dictBits = if ((flags & 2) != 0) 7 else 6
    val threeTrees = (flags & 4) != 0
    val minMatch = if (threeTrees) 3 else 2
    var p = start
    var litTree: SfTree = null
    if (threeTrees) {
      val r = sfParse(b, p, endExcl, 256)
      if (r == null) return null
      litTree = r._1
      p = r._2
    }
    val rl = sfParse(b, p, endExcl, 64)
    if (rl == null) return null
    val lenTree = rl._1
    p = rl._2
    val rd = sfParse(b, p, endExcl, 64)
    if (rd == null) return null
    val distTree = rd._1
    p = rd._2
    val br = new BitsLsb(b, p, endExcl)
    val out = new Array[Byte](outSize)
    var outLen = 0
    while (outLen < outSize) {
      br.bit() match {
        case -1 => return null
        case 1 => // literal
          val lit = if (litTree != null) sfRead(litTree, br) else br.bits(8)
          if (lit < 0) return null
          out(outLen) = lit.toByte
          outLen += 1
        case _ => // match
          val low = br.bits(dictBits)
          if (low < 0) return null
          val high = sfRead(distTree, br)
          if (high < 0) return null
          val dist = ((high << dictBits) | low) + 1
          var c = sfRead(lenTree, br)
          if (c < 0) return null
          if (c == 63) {
            val extra = br.bits(8)
            if (extra < 0) return null
            c += extra
          }
          val len = c + minMatch
          if (dist > outLen) return null // pre-window reach = damage
          if (outLen + len > outSize) return null
          var k = 0
          while (k < len) { // byte-wise: overlapping copies replicate
            out(outLen) = out(outLen - dist)
            outLen += 1
            k += 1
          }
      }
    }
    out
  }

  /** IMPLODE-compress with FLAT trees (64×6-bit length and distance
    * codes; 256×8-bit literals in 3-tree mode) and a real greedy LZ
    * matcher over the selected window — the write side no modern tool
    * ships. commons-compress READS imploded entries: the independent
    * pin for this pair.
    */
  private def implodeEncode(data: Array[Byte], bigDict: Boolean,
      threeTrees: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    def flatTree(nSymbols: Int, len: Int): Unit = {
      val nPairs = nSymbols / 16
      out.write(nPairs - 1)
      var i = 0
      while (i < nPairs) { out.write((15 << 4) | (len - 1)); i += 1 }
    }
    if (threeTrees) flatTree(256, 8)
    flatTree(64, 6)
    flatTree(64, 6)
    val litT = if (threeTrees) new SfTree(Array.fill(256)(8)) else null
    val lenT = new SfTree(Array.fill(64)(6))
    val distT = new SfTree(Array.fill(64)(6))
    var bitBuf = 0L
    var bitCnt = 0
    def putBits(v: Int, k: Int): Unit = { // LSB-first
      bitBuf |= (v.toLong & ((1L << k) - 1)) << bitCnt
      bitCnt += k
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xFF).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }
    def putSf(t: SfTree, s: Int): Unit = { // code bits MSB-first
      var k = t.lens(s) - 1
      while (k >= 0) {
        putBits((t.code(s) >> k) & 1, 1)
        k -= 1
      }
    }
    val dictSize = if (bigDict) 8192 else 4096
    val dictBits = if (bigDict) 7 else 6
    val minMatch = if (threeTrees) 3 else 2
    LzGreedy.compress(data, dictSize, minMatch, 63 + 255 + minMatch) { lit =>
      putBits(1, 1)
      if (litT != null) putSf(litT, lit)
      else putBits(lit, 8)
    } { (matched, dist) =>
      putBits(0, 1)
      val dm1 = dist - 1
      putBits(dm1 & ((1 << dictBits) - 1), dictBits)
      putSf(distT, dm1 >> dictBits)
      val c = matched - minMatch
      if (c >= 63) {
        putSf(lenT, 63)
        putBits(c - 63, 8)
      } else putSf(lenT, c)
    }
    if (bitCnt > 0) out.write((bitBuf & 0xFF).toInt)
    out.toByteArray
  }

  /** The general-purpose flags [[synthZipMethods]] stores for a
    * member: IMPLODE members signal their dictionary/tree shape
    * there — 8K when the payload outgrows the 4K window, the
    * literal tree on even payload lengths (cycling both modes).
    */
  private def gpFlagsFor(method: Int, dataLen: Int): Int =
    if (method != 6) 0
    else (if (dataLen > 4096) 2 else 0) | (if (dataLen % 2 == 0) 4 else 0)

  // ---- synthesizer -----------------------------------------------------

  /** A real ZIP from (name, bytes, deflate?) triples: local headers,
    * central directory, EOCD — deflated members through ONE reset()
    * raw Deflater. Names ending '/' become directory entries (size
    * 0, STORED) the reader must skip. With `forceZip64` the archive
    * is written in FULL ZIP64 form regardless of size — sentinel
    * fixed fields, 0x0001 extra fields in local and central headers,
    * ZIP64 EOCD record + locator — the structural shape >4 GiB
    * shards have, testable on small fixtures.
    */
  def synthZip(files: Seq[(String, Array[Byte], Boolean)],
      forceZip64: Boolean = false): Array[Byte] =
    synthZipMethods(
      files.map { case (n, d, defl) => (n, d, if (defl) 8 else 0) },
      forceZip64)

  /** [[synthZip]] with an explicit compression method per member:
    * STORED 0, SHRINK 1 (the from-scratch [[shrinkEncode]] — no
    * modern tool writes it; commons-compress READS it, which is that
    * pair's independent pin), REDUCE 2-5 (the from-scratch
    * [[reduceEncode]] — NO implementation of either side survives on
    * a modern classpath, so the pair is pinned by APPNOTE-derived
    * hand vectors plus round-trip across all four factors), DEFLATE
    * 8, BZIP2 12 (commons-compress writes the member stream), LZMA
    * 14 (xz-java raw LZMA1 behind the APPNOTE member header),
    * Zstandard 93 (zstd-jni), XZ 95 (xz-java).
    */
  def synthZipMethods(files: Seq[(String, Array[Byte], Int)],
      forceZip64: Boolean = false,
      password: Array[Byte] = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def w32(v: Long): Unit = { w16((v & 0xFFFF).toInt); w16(((v >> 16) & 0xFFFF).toInt) }
    def w64(v: Long): Unit = { w32(v & 0xFFFFFFFFL); w32((v >>> 32) & 0xFFFFFFFFL) }
    val ver = if (forceZip64) 45 else 20
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED, true)
    try {
      val central = files.map { case (name, data, method) =>
        val nameB = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val crc = new java.util.zip.CRC32()
        crc.update(data)
        val gpf = gpFlagsFor(method, data.length) |
          (if (password != null) 1 else 0)
        val packed0 = method match {
          case 0 => data
          case 1 => shrinkEncode(data)
          case 2 | 3 | 4 | 5 => reduceEncode(data, method - 1)
          case 9 => Inflate64.encode(data)
          case 10 => dclEncode(data)
          case 6 =>
            // stream shape derived from the SAME flags the headers
            // advertise — the two can't drift apart
            implodeEncode(data, bigDict = (gpf & 2) != 0,
              threeTrees = (gpf & 4) != 0)
          case 8 =>
            defl.reset()
            defl.setInput(data)
            defl.finish()
            val buf = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
            val tmp = new Array[Byte](8192)
            while (!defl.finished()) {
              val m = defl.deflate(tmp)
              buf.write(tmp, 0, m)
            }
            buf.toByteArray
          case 12 =>
            val buf = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
            val z = new org.apache.commons.compress.compressors.bzip2
              .BZip2CompressorOutputStream(buf, 1)
            z.write(data); z.close()
            buf.toByteArray
          case 14 =>
            val opts = new org.tukaani.xz.LZMA2Options(1)
            opts.setDictSize(1 << 16) // dict-sized encoder tables per member
            val buf = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
            // APPNOTE member header: SDK version (readers ignore),
            // props size 5, the lc/lp/pb byte, LE32 dictionary size
            buf.write(9); buf.write(20)
            buf.write(5); buf.write(0)
            buf.write((opts.getPb * 5 + opts.getLp) * 9 + opts.getLc)
            val ds = opts.getDictSize
            buf.write(ds & 0xFF); buf.write((ds >> 8) & 0xFF)
            buf.write((ds >> 16) & 0xFF); buf.write((ds >>> 24) & 0xFF)
            val z = new org.tukaani.xz.LZMAOutputStream(buf, opts,
              false) // raw stream, no end marker: sizes are declared
            z.write(data); z.finish()
            buf.toByteArray
          case 93 =>
            com.github.luben.zstd.Zstd.compress(data, 3)
          case 95 =>
            val buf = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
            val xo = new org.tukaani.xz.LZMA2Options(1)
            xo.setDictSize(1 << 16) // dict-sized encoder tables per member
            val z = new org.tukaani.xz.XZOutputStream(buf, xo)
            z.write(data); z.close()
            buf.toByteArray
          case m => throw new IllegalArgumentException(s"method $m")
        }
        // ZipCrypto: deterministic 11 filler bytes (an LCG off the
        // CRC — fixtures must replay bit-exact), check byte = CRC
        // high byte, whole envelope encrypted with plaintext-fed keys
        val packed = if (password == null) packed0 else {
          val cipher = new ZipCipher(password)
          val env = new Array[Byte](12 + packed0.length)
          var h = crc.getValue ^ 0x9E3779B97F4A7C15L
          var i = 0
          while (i < 11) {
            h = h * 6364136223846793005L + 1442695040888963407L
            env(i) = (h >>> 56).toByte
            i += 1
          }
          env(11) = (crc.getValue >>> 24).toByte
          System.arraycopy(packed0, 0, env, 12, packed0.length)
          i = 0
          while (i < env.length) {
            env(i) = cipher.encrypt(env(i) & 0xFF).toByte
            i += 1
          }
          env
        }
        val lho = out.size().toLong
        w32(0x04034b50L); w16(ver); w16(gpf); w16(method)
        w16(0); w16(0) // time/date: not consumed by the reader
        w32(crc.getValue)
        if (forceZip64) {
          w32(0xFFFFFFFFL); w32(0xFFFFFFFFL) // sizes live in the extra
          w16(nameB.length); w16(20)
          out.write(nameB, 0, nameB.length)
          // local 0x0001 extra: APPNOTE wants BOTH sizes here
          w16(1); w16(16)
          w64(data.length.toLong); w64(packed.length.toLong)
        } else {
          w32(packed.length.toLong); w32(data.length.toLong)
          w16(nameB.length); w16(0)
          out.write(nameB, 0, nameB.length)
        }
        out.write(packed, 0, packed.length)
        (nameB, method, gpf, crc.getValue, packed.length.toLong,
          data.length.toLong, lho)
      }
      val cdOff = out.size().toLong
      central.foreach { case (nameB, method, gpf, crc, csize, usize, lho) =>
        w32(0x02014b50L); w16(ver); w16(ver); w16(gpf); w16(method)
        w16(0); w16(0)
        w32(crc)
        if (forceZip64) { w32(0xFFFFFFFFL); w32(0xFFFFFFFFL) }
        else { w32(csize); w32(usize) }
        w16(nameB.length); w16(if (forceZip64) 28 else 0); w16(0)
        w16(0); w16(0) // disk, internal attrs
        w32(0) // external attrs
        if (forceZip64) w32(0xFFFFFFFFL) else w32(lho)
        out.write(nameB, 0, nameB.length)
        if (forceZip64) {
          // central 0x0001 extra: size, csize, offset (sentinel order)
          w16(1); w16(24)
          w64(usize); w64(csize); w64(lho)
        }
      }
      val cdSize = out.size() - cdOff
      if (forceZip64) {
        val z64Off = out.size().toLong
        w32(0x06064b50L) // ZIP64 EOCD record
        w64(44) // size of remainder
        w16(ver); w16(ver)
        w32(0); w32(0) // disk numbers
        w64(files.length.toLong); w64(files.length.toLong)
        w64(cdSize); w64(cdOff)
        w32(0x07064b50L) // ZIP64 EOCD locator
        w32(0); w64(z64Off); w32(1)
        w32(0x06054b50L); w16(0); w16(0)
        w16(0xFFFF); w16(0xFFFF)
        w32(0xFFFFFFFFL); w32(0xFFFFFFFFL); w16(0)
      } else {
        w32(0x06054b50L); w16(0); w16(0)
        w16(files.length); w16(files.length)
        w32(cdSize); w32(cdOff); w16(0)
      }
      out.toByteArray
    } finally defl.end()
  }
}
