package graft.operators

import java.nio.charset.StandardCharsets.UTF_16LE

/** From-scratch 7z archive reader — the remaining mainstream
  * code-corpus/shard container beside tar/zip/cpio/ar/deb/rpm.
  * Implements the documented layout (7zFormat.txt, shipped with every
  * 7-Zip source distribution): signature header with its three CRC32s,
  * the property-ID header grammar (PackInfo/UnpackInfo/SubStreamsInfo/
  * FilesInfo), 7z variable-length numbers and bit vectors, folders as
  * coder GRAPHS (bind pairs + packed-stream assignment), ENCODED
  * headers (the header itself compressed in a folder), solid folders
  * split into substreams by kNumUnpackStream/kSize, empty-stream /
  * empty-file distinction, and UTF-16LE names.
  *
  * Member codecs: Copy, LZMA2 and LZMA1 (both through the [[Xz]]
  * adapter over xz-java, dictionary sized by the folder's declared
  * output), Delta, Deflate (JDK raw), BZip2 (the [[Bzip2]] adapter
  * over commons-compress), and the six one-input BCJ branch filters —
  * x86/PPC/IA64/ARM/ARMT/SPARC via [[Bcj]] (xz-java's simple filters;
  * LZMA2→BCJ chains pinned both directions against commons-compress)
  * — with optional start-offset
  * props. Coder chains evaluate recursively over the bind-pair graph
  * (e.g. Delta→LZMA2, LZMA2→BCJ). Named profile gaps, distinct from
  * damage: AES-encrypted folders (`encrypted`), BCJ2 (the 4-stream
  * range-coded x86 variant — no independent implementation exists on
  * box to pin against: commons-compress reads BCJ but not BCJ2) and
  * any other coder id (`unsupported_codec`).
  *
  * Every stored CRC32 that is present is VERIFIED (folder outputs,
  * substreams) — mismatch degrades the archive to null, the same
  * quarantine posture as [[Zip]]. Bomb caps: 1<<26 bytes per folder
  * output, 65536 entries/folders.
  *
  * Pinned BOTH directions against the independent commons-compress
  * implementation on the Spark classpath (SevenZFile reads
  * [[synth7z]]'s output; SevenZOutputFile archives — LZMA2, solid and
  * not — read back byte-exactly here; see SevenZipSpec).
  */
object SevenZip {

  private val MaxOut = 1 << 26
  private val MaxEntries = 65536

  private final class Err(msg: String)
    extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Err(msg)

  def is7z(b: Array[Byte]): Boolean =
    b != null && b.length >= 32 && b(0) == '7' && b(1) == 'z' &&
      b(2) == 0xBC.toByte && b(3) == 0xAF.toByte && b(4) == 0x27.toByte &&
      b(5) == 0x1C.toByte

  private def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue
  }
  private def leU32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL)) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  private def leU64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var k = 7
    while (k >= 0) { v = (v << 8) | (b(i + k) & 0xFFL); k -= 1 }
    v
  }

  // ---- reader primitives -------------------------------------------------

  private final class In(val b: Array[Byte], var p: Int, val end: Int) {
    def u8(): Int = {
      if (p >= end) fail("eof")
      val v = b(p) & 0xFF; p += 1; v
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || n > end - p) fail("bytes")
      val r = java.util.Arrays.copyOfRange(b, p, p + n); p += n; r
    }
    /** 7z variable-length number: leading byte's high bits select how
      * many little-endian tail bytes follow.
      */
    def number(): Long = {
      val first = u8()
      var mask = 0x80
      var value = 0L
      var i = 0
      while (i < 8) {
        if ((first & mask) == 0)
          return value | ((first & (mask - 1)).toLong << (8 * i))
        value |= u8().toLong << (8 * i)
        mask >>= 1
        i += 1
      }
      value
    }
    def num(): Int = {
      val v = number()
      if (v < 0 || v > Int.MaxValue) fail("number range")
      v.toInt
    }
    /** MSB-first bit vector of n bits. */
    def bits(n: Int): Array[Boolean] = {
      val out = new Array[Boolean](n)
      var cur = 0; var maskLeft = 0
      var i = 0
      while (i < n) {
        if (maskLeft == 0) { cur = u8(); maskLeft = 8 }
        out(i) = (cur & (1 << (maskLeft - 1))) != 0
        maskLeft -= 1
        i += 1
      }
      out
    }
    /** allAreDefined byte, then a bit vector only when it is 0. */
    def definedBits(n: Int): Array[Boolean] =
      if (u8() != 0) Array.fill(n)(true) else bits(n)
  }

  // ---- structures ----------------------------------------------------------

  private final case class Coder(id: Seq[Byte], numIn: Int, numOut: Int,
      props: Array[Byte])
  private final case class Folder(coders: Vector[Coder],
      bindPairs: Vector[(Int, Int)], // (inIndex, outIndex)
      packedIndices: Vector[Int],    // global in-indices fed by pack streams
      unpackSizes: Vector[Long],     // per out-stream
      crc: Option[Long]) {
    def totalIn: Int = coders.map(_.numIn).sum
    def totalOut: Int = coders.map(_.numOut).sum
    /** The one output no bind pair consumes — the folder's result. */
    def finalOut: Int = {
      val bound = bindPairs.map(_._2).toSet
      (0 until totalOut).find(!bound(_)).getOrElse(fail("no final out"))
    }
    def unpackSize: Long = unpackSizes(finalOut)
  }

  private final case class StreamsInfo(packPos: Long, packSizes: Vector[Long],
      folders: Vector[Folder],
      numUnpack: Vector[Int],        // substreams per folder
      subSizes: Vector[Vector[Long]],// per folder
      subCrcs: Vector[Option[Long]]) // flattened, per substream

  private def parseFolder(in: In): Folder = {
    val numCoders = in.num()
    if (numCoders < 1 || numCoders > 8) fail("coders")
    var coders = Vector.empty[Coder]
    var i = 0
    while (i < numCoders) {
      val flags = in.u8()
      val idSize = flags & 0x0F
      val id = in.bytes(idSize).toSeq
      val complex = (flags & 0x10) != 0
      val hasAttrs = (flags & 0x20) != 0
      if ((flags & 0x80) != 0) fail("alt methods") // reserved
      val (nIn, nOut) = if (complex) (in.num(), in.num()) else (1, 1)
      if (nIn < 1 || nIn > 8 || nOut != 1) fail("coder streams")
      val props = if (hasAttrs) in.bytes(in.num()) else Array.emptyByteArray
      coders :+= Coder(id, nIn, nOut, props)
      i += 1
    }
    val totalIn = coders.map(_.numIn).sum
    val totalOut = coders.map(_.numOut).sum
    val numBind = totalOut - 1
    var binds = Vector.empty[(Int, Int)]
    i = 0
    while (i < numBind) { binds :+= ((in.num(), in.num())); i += 1 }
    val numPacked = totalIn - numBind
    val packed: Vector[Int] =
      if (numPacked == 1) {
        val boundIns = binds.map(_._1).toSet
        Vector((0 until totalIn).find(!boundIns(_)).getOrElse(fail("packed")))
      } else Vector.fill(numPacked)(in.num())
    Folder(coders, binds, packed, Vector.empty, None)
  }

  private def parseStreamsInfo(in: In): StreamsInfo = {
    var packPos = 0L
    var packSizes = Vector.empty[Long]
    var folders = Vector.empty[Folder]
    var numUnpack = Vector.empty[Int]
    var subSizes = Vector.empty[Vector[Long]]
    var subCrcs = Vector.empty[Option[Long]]
    var id = in.u8()
    if (id == 0x06) { // PackInfo
      packPos = in.number()
      val n = in.num()
      if (n > MaxEntries) fail("pack count")
      var pid = in.u8()
      while (pid != 0x00) {
        pid match {
          case 0x09 => packSizes = Vector.fill(n)(in.number())
          case 0x0A => // pack CRCs: present but unused (members re-verify)
            val defined = in.definedBits(n)
            defined.foreach(d => if (d) in.bytes(4))
          case _ => fail("packinfo id")
        }
        pid = in.u8()
      }
      if (packSizes.length != n) fail("pack sizes")
      id = in.u8()
    }
    if (id == 0x07) { // UnpackInfo
      if (in.u8() != 0x0B) fail("kFolder")
      val n = in.num()
      if (n > MaxEntries) fail("folder count")
      if (in.u8() != 0) fail("external folders") // datastream-external: out of subset
      folders = Vector.fill(n)(parseFolder(in))
      if (in.u8() != 0x0C) fail("kCodersUnpackSize")
      folders = folders.map { f =>
        f.copy(unpackSizes = Vector.fill(f.totalOut)(in.number()))
      }
      var pid = in.u8()
      while (pid != 0x00) {
        pid match {
          case 0x0A =>
            val defined = in.definedBits(n)
            folders = folders.zip(defined).map { case (f, d) =>
              if (d) f.copy(crc = Some(leU32(in.bytes(4), 0))) else f
            }
          case _ => fail("unpackinfo id")
        }
        pid = in.u8()
      }
      id = in.u8()
    }
    // defaults when no SubStreamsInfo: one substream per folder
    numUnpack = Vector.fill(folders.length)(1)
    subSizes = folders.map(f => Vector(f.unpackSize))
    subCrcs = folders.map(_.crc)
    if (id == 0x08) { // SubStreamsInfo
      var pid = in.u8()
      var explicitSizes = false
      if (pid == 0x0D) {
        numUnpack = Vector.fill(folders.length)(in.num())
        if (numUnpack.exists(v => v < 0 || v > MaxEntries)) fail("substream count")
        pid = in.u8()
      }
      if (pid == 0x09) {
        explicitSizes = true
        subSizes = folders.zip(numUnpack).map { case (f, k) =>
          if (k == 0) Vector.empty[Long]
          else {
            val head = Vector.fill(k - 1)(in.number())
            val rest = f.unpackSize - head.sum
            if (rest < 0) fail("substream sizes")
            head :+ rest
          }
        }
        pid = in.u8()
      } else {
        subSizes = folders.zip(numUnpack).map { case (f, k) =>
          if (k == 1) Vector(f.unpackSize)
          else if (k == 0) Vector.empty[Long]
          else fail("substream sizes required")
        }
      }
      // default: folder CRC covers single-substream folders
      subCrcs = folders.zip(numUnpack).flatMap { case (f, k) =>
        if (k == 1) Vector(f.crc) else Vector.fill(k)(None)
      }
      if (pid == 0x0A) {
        // CRCs for substreams lacking one
        val missing = subCrcs.count(_.isEmpty)
        val defined = in.definedBits(missing)
        var di = 0
        subCrcs = subCrcs.map {
          case Some(c) => Some(c)
          case None =>
            val d = defined(di); di += 1
            if (d) Some(leU32(in.bytes(4), 0)) else None
        }
        pid = in.u8()
      }
      if (pid != 0x00) fail("substreams id")
      id = in.u8()
    }
    if (id != 0x00) fail("streamsinfo end")
    StreamsInfo(packPos, packSizes, folders, numUnpack, subSizes, subCrcs)
  }

  // ---- codecs ----------------------------------------------------------

  private val IdCopy = Seq[Byte](0x00)
  private val IdLzma2 = Seq[Byte](0x21)
  private val IdLzma1 = Seq[Byte](0x03, 0x01, 0x01)
  private val IdDelta = Seq[Byte](0x03)
  private val IdDeflate = Seq[Byte](0x04, 0x01, 0x08)
  private val IdBzip2 = Seq[Byte](0x04, 0x02, 0x02)
  private val IdAes = Seq[Byte](0x06, 0xF1.toByte, 0x07, 0x01)
  // branch-conversion filters (Methods.txt 0x0303xxyy); BCJ2
  // (0x0303011B, the 4-stream x86 variant) remains the named gap
  private val IdBcjX86 = Seq[Byte](0x03, 0x03, 0x01, 0x03)
  private val IdBcjPpc = Seq[Byte](0x03, 0x03, 0x02, 0x05)
  private val IdBcjIa64 = Seq[Byte](0x03, 0x03, 0x04, 0x01)
  private val IdBcjArm = Seq[Byte](0x03, 0x03, 0x05, 0x01)
  private val IdBcjArmt = Seq[Byte](0x03, 0x03, 0x07, 0x01)
  private val IdBcjSparc = Seq[Byte](0x03, 0x03, 0x08, 0x05)

  /** Optional BCJ props: 4-byte LE start offset (absent → 0). */
  private def bcjIp(props: Array[Byte]): Int = props.length match {
    case 0 => 0
    case 4 => (props(0) & 0xFF) | ((props(1) & 0xFF) << 8) |
      ((props(2) & 0xFF) << 16) | ((props(3) & 0xFF) << 24)
    case _ => fail("bcj props")
  }

  /** Marker for the named encrypted profile (vs plain damage). */
  private final class EncryptedErr extends RuntimeException("encrypted", null, false, false)

  private def decodeCoder(coder: Coder, input: Array[Byte],
      outSize: Long): Array[Byte] = {
    if (outSize < 0 || outSize > MaxOut) fail("folder bomb")
    val out: Array[Byte] = coder.id match {
      case IdCopy => input
      case IdLzma2 =>
        val r = Xz.decodeLzma2Raw(input, 0, input.length, outSize)
        if (r == null) fail("lzma2") else r
      case IdLzma1 =>
        if (coder.props.length < 1) fail("lzma props")
        val r = Xz.decodeLzma1(input, 0, input.length,
          coder.props(0) & 0xFF, outSize.toInt)
        if (r == null) fail("lzma1") else r
      case IdDelta =>
        if (coder.props.length != 1) fail("delta props")
        val dist = (coder.props(0) & 0xFF) + 1
        val r = input.clone()
        var i = dist
        while (i < r.length) { r(i) = (r(i) + r(i - dist)).toByte; i += 1 }
        r
      case IdDeflate =>
        val r = Capped.inflate(input, 0, input.length, MaxOut, outSize,
          raw = true)
        if (r == null) fail("deflate") else r.bytes
      case IdBzip2 =>
        val r = Bzip2.decode(input, MaxOut.toLong)
        if (r == null) fail("bzip2") else r
      case IdAes => throw new EncryptedErr
      case IdBcjX86 =>
        val r = input.clone(); Bcj.x86(r, bcjIp(coder.props), encoder = false); r
      case IdBcjPpc =>
        val r = input.clone(); Bcj.ppc(r, bcjIp(coder.props), encoder = false); r
      case IdBcjIa64 =>
        val r = input.clone(); Bcj.ia64(r, bcjIp(coder.props), encoder = false); r
      case IdBcjArm =>
        val r = input.clone(); Bcj.arm(r, bcjIp(coder.props), encoder = false); r
      case IdBcjArmt =>
        val r = input.clone(); Bcj.armThumb(r, bcjIp(coder.props), encoder = false); r
      case IdBcjSparc =>
        val r = input.clone(); Bcj.sparc(r, bcjIp(coder.props), encoder = false); r
      case _ => fail("unsupported codec") // BCJ2/PPMd/...: named gap
    }
    if (out.length != outSize) fail("folder size")
    out
  }

  /** Evaluate a folder's coder graph; `packs` are its packed streams in
    * pack-stream order.
    */
  private def decodeFolder(f: Folder, packs: Vector[Array[Byte]]): Array[Byte] = {
    val inStart = f.coders.scanLeft(0)(_ + _.numIn)
    def coderOfOut(out: Int): Int = out // numOut == 1 per coder
    val memo = new Array[Array[Byte]](f.totalOut)
    def evalOut(out: Int, depth: Int): Array[Byte] = {
      if (depth > 8) fail("coder depth")
      if (memo(out) != null) return memo(out)
      val c = coderOfOut(out)
      val coder = f.coders(c)
      val ins = (0 until coder.numIn).map { k =>
        val gin = inStart(c) + k
        f.bindPairs.find(_._1 == gin) match {
          case Some((_, srcOut)) => evalOut(srcOut, depth + 1)
          case None =>
            val pi = f.packedIndices.indexOf(gin)
            if (pi < 0 || pi >= packs.length) fail("pack wiring")
            packs(pi)
        }
      }
      if (ins.length != 1) fail("multi-input codec") // BCJ2 shape: named gap
      val r = decodeCoder(coder, ins.head, f.unpackSizes(out))
      memo(out) = r
      r
    }
    evalOut(f.finalOut, 0)
  }

  // ---- the archive walk --------------------------------------------------

  /** One member: name, bytes (empty for empty files/dirs), directory flag. */
  final case class Entry(name: String, data: Array[Byte], isDir: Boolean)

  /** Read all members; null on damage. Throws nothing. */
  def members(b: Array[Byte]): Array[Entry] =
    try membersOrThrow(b)
    catch {
      case _: Err => null
      case _: EncryptedErr => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
      case _: IllegalArgumentException => null
    }

  /** True when the archive is sound but ENCRYPTED — a named profile. */
  def isEncrypted(b: Array[Byte]): Boolean =
    try { membersOrThrow(b); false }
    catch {
      case _: EncryptedErr => true
      case _: RuntimeException => false
    }

  private def membersOrThrow(b: Array[Byte]): Array[Entry] = {
    if (!is7z(b)) fail("magic")
    // StartHeader: CRC over the 20 bytes after the 12-byte signature
    if (crc32(b, 12, 20) != leU32(b, 8)) fail("start header crc")
    val nhOff = leU64(b, 12)
    val nhSize = leU64(b, 20)
    val nhCrc = leU32(b, 28)
    if (nhOff < 0 || nhSize < 0 || nhSize > MaxOut ||
        32 + nhOff + nhSize > b.length) fail("next header bounds")
    if (nhSize == 0) return Array.empty // empty archive
    var hdr = java.util.Arrays.copyOfRange(b, (32 + nhOff).toInt,
      (32 + nhOff + nhSize).toInt)
    if (crc32(hdr, 0, hdr.length) != nhCrc) fail("next header crc")
    var in = new In(hdr, 0, hdr.length)
    var id = in.u8()
    if (id == 0x17) { // EncodedHeader: the header itself lives in a folder
      val si = parseStreamsInfo(in)
      hdr = decodeAllFolders(b, si).headOption.getOrElse(fail("encoded header"))
      in = new In(hdr, 0, hdr.length)
      id = in.u8()
    }
    if (id != 0x01) fail("kHeader")
    var si: StreamsInfo = StreamsInfo(0, Vector.empty, Vector.empty,
      Vector.empty, Vector.empty, Vector.empty)
    var names = Vector.empty[String]
    var emptyStream = Array.empty[Boolean]
    var emptyFile = Array.empty[Boolean]
    var numFiles = 0
    id = in.u8()
    if (id == 0x02) { // ArchiveProperties: skip property blocks
      var pid = in.u8()
      while (pid != 0x00) { in.bytes(in.num()); pid = in.u8() }
      id = in.u8()
    }
    if (id == 0x03) fail("additional streams") // out of subset
    if (id == 0x04) {
      si = parseStreamsInfo(in)
      id = in.u8()
    }
    if (id == 0x05) { // FilesInfo
      numFiles = in.num()
      if (numFiles > MaxEntries) fail("file count")
      emptyStream = Array.fill(numFiles)(false)
      emptyFile = Array.fill(numFiles)(false)
      var pid = in.u8()
      while (pid != 0x00) {
        val size = in.num()
        val next = in.p + size
        if (next > in.end) fail("fileprop size")
        pid match {
          case 0x0E => emptyStream = in.bits(numFiles)
          case 0x0F => // bits over the EMPTY-STREAM files only
            val nEmpty = emptyStream.count(identity)
            val bitsE = in.bits(nEmpty)
            var k = 0
            (0 until numFiles).foreach { i =>
              if (emptyStream(i)) { emptyFile(i) = bitsE(k); k += 1 }
            }
          case 0x11 =>
            if (in.u8() != 0) fail("external names")
            val data = in.bytes(next - in.p)
            // UTF-16LE, null-terminated per name
            var start = 0
            var i2 = 0
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            while (i2 + 1 < data.length) {
              if (data(i2) == 0 && data(i2 + 1) == 0) {
                acc += new String(data, start, i2 - start, UTF_16LE)
                start = i2 + 2
              }
              i2 += 2
            }
            names = acc.toVector
          case _ => () // kMTime/kCTime/kAttributes/kDummy...: skip
        }
        in.p = next
        pid = in.u8()
      }
      id = in.u8()
    }
    if (id != 0x00) fail("header end")
    if (names.nonEmpty && names.length != numFiles) fail("name count")
    // decode every folder, split substreams, verify CRCs
    val outputs = decodeAllFolders(b, si)
    val subs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var ci = 0
    outputs.zipWithIndex.foreach { case (folderOut, fi) =>
      var off = 0
      si.subSizes(fi).foreach { sz =>
        if (sz < 0 || off + sz > folderOut.length) fail("substream bounds")
        val part = java.util.Arrays.copyOfRange(folderOut, off, (off + sz).toInt)
        si.subCrcs(ci).foreach { want =>
          if (crc32(part, 0, part.length) != want) fail("substream crc")
        }
        subs += part
        off += sz.toInt
        ci += 1
      }
    }
    // assign substreams to the non-empty-stream files in order
    if (numFiles == 0 && subs.nonEmpty) {
      // no FilesInfo: a bare stream archive — expose anonymous members
      return subs.zipWithIndex.map { case (d, i) => Entry(s"stream$i", d, isDir = false) }.toArray
    }
    val out = new Array[Entry](numFiles)
    var s = 0
    (0 until numFiles).foreach { i =>
      val nm = if (names.isDefinedAt(i)) names(i) else s"file$i"
      if (emptyStream(i)) {
        // empty stream: an empty FILE if flagged, else a directory
        out(i) = Entry(nm, Array.emptyByteArray, isDir = !emptyFile(i))
      } else {
        if (s >= subs.length) fail("missing substream")
        out(i) = Entry(nm, subs(s), isDir = false)
        s += 1
      }
    }
    if (s != subs.length) fail("substream surplus")
    out
  }

  private def decodeAllFolders(b: Array[Byte], si: StreamsInfo): Vector[Array[Byte]] = {
    var packOff = 32 + si.packPos
    val packs = si.packSizes.map { sz =>
      if (sz < 0 || packOff + sz > b.length) fail("pack bounds")
      val r = java.util.Arrays.copyOfRange(b, packOff.toInt, (packOff + sz).toInt)
      packOff += sz
      r
    }
    var next = 0
    si.folders.map { f =>
      val take = f.packedIndices.length
      if (next + take > packs.length) fail("pack allocation")
      val mine = packs.slice(next, next + take)
      next += take
      val out = decodeFolder(f, mine)
      f.crc.foreach { want =>
        if (crc32(out, 0, out.length) != want) fail("folder crc")
      }
      out
    }
  }

  /** Forensic class for the decode taxonomy. */
  def decodeClass(b: Array[Byte]): String =
    if (!is7z(b)) "not_7z"
    else try { membersOrThrow(b); "ok" }
    catch {
      case _: EncryptedErr => "encrypted"
      case e: Err if e.getMessage == "unsupported codec" ||
        e.getMessage == "multi-input codec" => "unsupported_profile"
      case _: RuntimeException => "corrupt"
    }

  // ---- synthetic writer ---------------------------------------------------

  /** Number encoder (shortest form). */
  private def wnum(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    require(v0 >= 0)
    if (v0 < 0x80) { out.write(v0.toInt); return }
    // count tail bytes needed
    var tail = 1
    while (tail < 8 && (v0 >> (8 * tail)) >= (1L << (7 - tail)) && tail < 8) tail += 1
    if (tail >= 8 || (v0 >> (8 * tail)) >= (1L << (7 - tail))) tail = 8
    val high =
      if (tail == 8) 0xFF
      else (0xFF << (8 - tail)) & 0xFF | ((v0 >> (8 * tail)).toInt & ((1 << (7 - tail)) - 1))
    out.write(high)
    var i = 0
    while (i < tail) { out.write(((v0 >> (8 * i)) & 0xFF).toInt); i += 1 }
  }

  /** LZMA2 payload as uncompressed chunks (dict-reset first chunk) — a
    * valid LZMA2 stream any conformant decoder (incl. xz-java behind
    * commons-compress) must accept.
    */
  private[graft] def lzma2Store(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    var first = true
    while (i < data.length) {
      val n = math.min(1 << 16, data.length - i)
      out.write(if (first) 0x01 else 0x02)
      out.write(((n - 1) >> 8) & 0xFF)
      out.write((n - 1) & 0xFF)
      out.write(data, i, n)
      i += n
      first = false
    }
    out.write(0x00)
    out.toByteArray
  }

  /** The BCJ encode transforms by variant suffix (writer side). */
  private val BcjVariants: Map[String, (Seq[Byte], (Array[Byte], Int, Boolean) => Int)] =
    Map(
      "bcj_x86" -> ((IdBcjX86, Bcj.x86 _)),
      "bcj_ppc" -> ((IdBcjPpc, Bcj.ppc _)),
      "bcj_ia64" -> ((IdBcjIa64, Bcj.ia64 _)),
      "bcj_arm" -> ((IdBcjArm, Bcj.arm _)),
      "bcj_armt" -> ((IdBcjArmt, Bcj.armThumb _)),
      "bcj_sparc" -> ((IdBcjSparc, Bcj.sparc _)))

  /** Deterministic 7z writer for the pin + corpus. Variants:
    * "copy" (one Copy folder per file), "lzma2" (one LZMA2 folder per
    * file, uncompressed-chunk framing), "solid" (ONE LZMA2 folder, all
    * files as substreams with per-substream CRCs),
    * "encoded_header" (copy folders + the header itself packed in an
    * EncodedHeader LZMA2 folder), "bcj_{x86,ppc,ia64,arm,armt,sparc}"
    * (a two-coder LZMA2→BCJ folder per file — the branch-filtered
    * chain real binary-corpus archives use; bind-pair graph exercised
    * for real). Entries with empty data exercise the
    * kEmptyStream/kEmptyFile bit vectors.
    */
  def synth7z(files: Seq[(String, Array[Byte])], variant: String): Array[Byte] = {
    require(files.nonEmpty)
    val nonEmpty = files.filter(_._2.nonEmpty)
    val solid = variant == "solid"
    // pack streams
    val packs: Seq[Array[Byte]] = variant match {
      case "copy" | "encoded_header" => nonEmpty.map(_._2)
      case "lzma2"                   => nonEmpty.map(f => lzma2Store(f._2))
      case "solid" =>
        val all = new java.io.ByteArrayOutputStream()
        nonEmpty.foreach(f => all.write(f._2))
        Seq(lzma2Store(all.toByteArray))
      case v if BcjVariants.contains(v) =>
        val enc = BcjVariants(v)._2
        nonEmpty.map { f =>
          val filtered = f._2.clone()
          enc(filtered, 0, true)
          lzma2Store(filtered)
        }
      case _ => throw new IllegalArgumentException(variant)
    }
    val body = new java.io.ByteArrayOutputStream()
    packs.foreach(p => body.write(p))

    // ---- header bytes ----
    val h = new java.io.ByteArrayOutputStream()
    h.write(0x01) // kHeader
    if (nonEmpty.nonEmpty) {
      h.write(0x04) // kMainStreamsInfo
      writeStreamsInfo(h, packs, nonEmpty.map(_._2), variant, packPos = 0)
    }
    // FilesInfo
    h.write(0x05)
    wnum(h, files.length)
    val anyEmpty = files.exists(_._2.isEmpty)
    if (anyEmpty) {
      h.write(0x0E) // kEmptyStream
      val bits = bitBytes(files.map(_._2.isEmpty))
      wnum(h, bits.length)
      h.write(bits)
      h.write(0x0F) // kEmptyFile: all our empty streams are FILES
      val nEmpty = files.count(_._2.isEmpty)
      val bits2 = bitBytes(Seq.fill(nEmpty)(true))
      wnum(h, bits2.length)
      h.write(bits2)
    }
    h.write(0x11) // kName
    val nameData = new java.io.ByteArrayOutputStream()
    nameData.write(0) // internal
    files.foreach { f =>
      nameData.write(f._1.getBytes(UTF_16LE))
      nameData.write(0); nameData.write(0)
    }
    wnum(h, nameData.size)
    h.write(nameData.toByteArray)
    h.write(0x00) // end of FilesInfo
    h.write(0x00) // end of Header
    var hdr = h.toByteArray

    if (variant == "encoded_header") {
      // pack the header itself in one LZMA2 folder after the data
      val packedHdr = lzma2Store(hdr)
      val hdrPackPos = body.size.toLong
      body.write(packedHdr)
      val eh = new java.io.ByteArrayOutputStream()
      eh.write(0x17) // kEncodedHeader
      writeStreamsInfo(eh, Seq(packedHdr), Seq(hdr), "lzma2", hdrPackPos)
      hdr = eh.toByteArray
    }

    // ---- signature + start header ----
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C))
    out.write(0); out.write(4) // version 0.4
    val start = new Array[Byte](20)
    // nextHeader sits right after the packed body (which, for the
    // encoded_header variant, already ends with the packed header folder)
    val dataLen = body.size.toLong
    var k = 0
    while (k < 8) { start(k) = ((dataLen >> (8 * k)) & 0xFF).toByte; k += 1 }
    k = 0
    while (k < 8) { start(8 + k) = ((hdr.length.toLong >> (8 * k)) & 0xFF).toByte; k += 1 }
    val hcrc = crc32(hdr, 0, hdr.length)
    k = 0
    while (k < 4) { start(16 + k) = ((hcrc >> (8 * k)) & 0xFF).toByte; k += 1 }
    val scrc = crc32(start, 0, 20)
    val scb = new Array[Byte](4)
    k = 0
    while (k < 4) { scb(k) = ((scrc >> (8 * k)) & 0xFF).toByte; k += 1 }
    out.write(scb)
    out.write(start)
    out.write(body.toByteArray)
    out.write(hdr)
    out.toByteArray
  }

  /** A structurally-sound archive whose one folder names the AES-256
    * coder — the `encrypted` forensic class (ciphertext is a named
    * profile, not damage).
    */
  /** A structurally-sound archive whose one folder names PPMd
    * (0x030401) — the `unsupported_profile` forensic class (no PPMd
    * implementation exists on box to pin a decoder against; see the
    * ZIP PPMd analysis).
    */
  private[graft] def synthPpmd7z(): Array[Byte] =
    synthWithCoder(Array[Byte](0x03, 0x04, 0x01),
      Array[Byte](6, 0, 0, 16, 0)) // order 6, 1 MiB memSize (LE)

  /** synthEncrypted7z generalized over the folder's (unsupported)
    * coder id + props.
    */
  private def synthWithCoder(id: Array[Byte], props: Array[Byte]): Array[Byte] = {
    val pack = Array.tabulate(32)(i => (i * 7).toByte)
    val h = new java.io.ByteArrayOutputStream()
    h.write(0x01); h.write(0x04); h.write(0x06)
    wnum(h, 0); wnum(h, 1)
    h.write(0x09); wnum(h, pack.length); h.write(0x00)
    h.write(0x07); h.write(0x0B)
    wnum(h, 1); h.write(0)
    wnum(h, 1)
    h.write(0x20 | id.length) // idSize + attrs
    h.write(id)
    wnum(h, props.length); h.write(props)
    h.write(0x0C); wnum(h, 16)
    h.write(0x00); h.write(0x00)
    h.write(0x05)
    wnum(h, 1)
    h.write(0x11)
    val nm = new java.io.ByteArrayOutputStream()
    nm.write(0); nm.write("weird.bin".getBytes(UTF_16LE)); nm.write(0); nm.write(0)
    wnum(h, nm.size); h.write(nm.toByteArray)
    h.write(0x00); h.write(0x00)
    val hdr = h.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C))
    out.write(0); out.write(4)
    val start = new Array[Byte](20)
    var k = 0
    while (k < 8) { start(k) = ((pack.length.toLong >> (8 * k)) & 0xFF).toByte; k += 1 }
    k = 0
    while (k < 8) { start(8 + k) = ((hdr.length.toLong >> (8 * k)) & 0xFF).toByte; k += 1 }
    val hcrc = crc32(hdr, 0, hdr.length)
    k = 0
    while (k < 4) { start(16 + k) = ((hcrc >> (8 * k)) & 0xFF).toByte; k += 1 }
    val scrc = crc32(start, 0, 20)
    k = 0
    while (k < 4) { out.write(((scrc >> (8 * k)) & 0xFF).toInt); k += 1 }
    out.write(start)
    out.write(pack)
    out.write(hdr)
    out.toByteArray
  }

  def synthEncrypted7z(): Array[Byte] = {
    val pack = Array.tabulate(32)(i => (i * 7).toByte) // opaque ciphertext
    val h = new java.io.ByteArrayOutputStream()
    h.write(0x01) // kHeader
    h.write(0x04) // kMainStreamsInfo
    h.write(0x06) // kPackInfo
    wnum(h, 0); wnum(h, 1)
    h.write(0x09); wnum(h, pack.length); h.write(0x00)
    h.write(0x07); h.write(0x0B) // kUnpackInfo/kFolder
    wnum(h, 1); h.write(0)
    wnum(h, 1) // one coder: AES-256-SHA256, 10 props (iv size + iv + cycles)
    h.write(0x24) // idSize 4 + attrs
    h.write(Array[Byte](0x06, 0xF1.toByte, 0x07, 0x01))
    val props = Array[Byte](0x53, 0x07, 1, 2, 3, 4, 5, 6, 7)
    wnum(h, props.length); h.write(props)
    h.write(0x0C); wnum(h, 16) // unpack size
    h.write(0x00) // end UnpackInfo
    h.write(0x00) // end StreamsInfo
    h.write(0x05) // FilesInfo: one file
    wnum(h, 1)
    h.write(0x11)
    val nm = new java.io.ByteArrayOutputStream()
    nm.write(0); nm.write("secret.bin".getBytes(UTF_16LE)); nm.write(0); nm.write(0)
    wnum(h, nm.size); h.write(nm.toByteArray)
    h.write(0x00); h.write(0x00)
    val hdr = h.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C))
    out.write(0); out.write(4)
    val start = new Array[Byte](20)
    var k = 0
    while (k < 8) { start(k) = ((pack.length.toLong >> (8 * k)) & 0xFF).toByte; k += 1 }
    k = 0
    while (k < 8) { start(8 + k) = ((hdr.length.toLong >> (8 * k)) & 0xFF).toByte; k += 1 }
    val hcrc = crc32(hdr, 0, hdr.length)
    k = 0
    while (k < 4) { start(16 + k) = ((hcrc >> (8 * k)) & 0xFF).toByte; k += 1 }
    val scrc = crc32(start, 0, 20)
    k = 0
    while (k < 4) { out.write(((scrc >> (8 * k)) & 0xFF).toInt); k += 1 }
    out.write(start)
    out.write(pack)
    out.write(hdr)
    out.toByteArray
  }

  private def bitBytes(bits: Seq[Boolean]): Array[Byte] = {
    val out = new Array[Byte]((bits.length + 7) / 8)
    bits.zipWithIndex.foreach { case (b, i) =>
      if (b) out(i / 8) = (out(i / 8) | (1 << (7 - i % 8))).toByte
    }
    out
  }

  /** StreamsInfo for `packs` ↔ plain contents. variant "solid" = one
    * folder + substreams; otherwise one single-coder folder per pack.
    */
  private def writeStreamsInfo(h: java.io.ByteArrayOutputStream,
      packs: Seq[Array[Byte]], contents: Seq[Array[Byte]], variant: String,
      packPos: Long): Unit = {
    val lzma2Props = Array[Byte](0x08) // dict-size code: 64 KiB
    h.write(0x06) // kPackInfo
    wnum(h, packPos)
    wnum(h, packs.length)
    h.write(0x09)
    packs.foreach(p => wnum(h, p.length))
    h.write(0x00)
    h.write(0x07) // kUnpackInfo
    h.write(0x0B) // kFolder
    val solid = variant == "solid"
    val nFolders = if (solid) 1 else packs.length
    wnum(h, nFolders)
    h.write(0) // internal
    val bcj = BcjVariants.get(variant).map(_._1)
    (0 until nFolders).foreach { _ =>
      bcj match {
        case Some(id) =>
          // two-coder chain: LZMA2 (fed by the pack stream) into the
          // BCJ decode filter; one bind pair (BCJ's input 1 <- out 0);
          // the single pack index is implicit per the grammar
          wnum(h, 2)
          h.write(0x21); h.write(0x21) // lzma2: idSize 1 + attrs flag
          wnum(h, lzma2Props.length)
          h.write(lzma2Props)
          h.write(id.length) // bcj: idSize, no attrs
          id.foreach(b => h.write(b & 0xFF))
          wnum(h, 1); wnum(h, 0) // bind pair (inIndex=1, outIndex=0)
        case None =>
          wnum(h, 1) // one coder
          variant match {
            case "copy" | "encoded_header" => // encoded_header packs its DATA as copy
              h.write(0x01); h.write(0x00) // idSize 1, id 00, no attrs
            case _ => // lzma2 framing for "lzma2", "solid"
              h.write(0x21); h.write(0x21) // idSize 1 + attrs flag, id 21
              wnum(h, lzma2Props.length)
              h.write(lzma2Props)
          }
      }
    }
    h.write(0x0C) // kCodersUnpackSize
    if (solid) wnum(h, contents.map(_.length.toLong).sum)
    else contents.foreach { c =>
      // per OUT stream, coder order: the BCJ chain has two outs (the
      // LZMA2 intermediate and the filter output), both content-sized
      if (bcj.isDefined) wnum(h, c.length)
      wnum(h, c.length)
    }
    // folder CRCs (all defined) — over each folder's full output
    h.write(0x0A)
    h.write(1)
    if (solid) {
      val all = new java.io.ByteArrayOutputStream()
      contents.foreach(all.write)
      writeCrc(h, all.toByteArray)
    } else contents.foreach(c => writeCrc(h, c))
    h.write(0x00) // end UnpackInfo
    // SubStreamsInfo is formally optional when every folder carries one
    // substream, but real writers always emit it and commons-compress's
    // header sanity check REQUIRES it to count substreams — so: always.
    h.write(0x08) // kSubStreamsInfo
    if (solid && contents.length > 1) {
      h.write(0x0D)
      wnum(h, contents.length)
      h.write(0x09)
      contents.init.foreach(c => wnum(h, c.length))
      h.write(0x0A) // per-substream CRCs (folder CRC no longer covers them)
      h.write(1)
      contents.foreach(c => writeCrc(h, c))
    }
    h.write(0x00) // end SubStreamsInfo
    h.write(0x00) // end StreamsInfo
  }

  private def writeCrc(h: java.io.ByteArrayOutputStream, data: Array[Byte]): Unit = {
    val c = crc32(data, 0, data.length)
    var k = 0
    while (k < 4) { h.write(((c >> (8 * k)) & 0xFF).toInt); k += 1 }
  }
}
