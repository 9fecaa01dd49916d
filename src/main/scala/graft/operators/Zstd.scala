package graft.operators

import java.io.{ByteArrayInputStream, IOException}
import scala.collection.mutable.ArrayBuffer
import com.github.luben.zstd.{ZstdDecompressCtx, ZstdDictDecompress,
  ZstdInputStreamNoFinalizer, Zstd => ZstdLib}

/** Zstandard (RFC 8878) decode through zstd-jni, plus the fixture
  * synthesizers the specs and demo corpora use.
  *
  * Common Crawl's current distribution format is `.warc.zst` — WARC
  * records in concatenated zstd frames, sometimes led by a skippable
  * frame carrying a shared dictionary. zstd-jni decodes the frames;
  * this adapter walks them itself to add what the library does not:
  *   - the bomb cap, counted across all frames while decoding (a
  *     frame's declared content size is checked before its output is
  *     allocated);
  *   - never-throw: damage, truncation, checksum mismatch and output
  *     past `cap` come back as [[Corrupt]] / null;
  *   - the dictionary split: a dictionary is captured from a leading
  *     nibble-D skippable frame (magic `0x184D2A5D`, possibly itself
  *     zstd-compressed) or supplied externally via
  *     [[decodeResultWithDict]], and loaded into the context with
  *     `ZstdDecompressCtx.loadDict`. A frame whose header names a
  *     dictionary ID (`Zstd.getDictIdFromFrame`) that is absent or
  *     different is the nameable profile gap [[NeedsDictionary]], not
  *     corruption.
  * (Reference scope: the ETL core at `etl.go:12-68` moves rows, never
  * crawl archives — this layer is extension surface.)
  */
object Zstd {

  private val FrameMagic = 0xFD2FB528
  private val SkippableMin = 0x184D2A50
  private val DictMagic = 0xEC30A437
  /** Common Crawl's `.warc.zst` convention: the shared dictionary
    * travels in a leading skippable frame with THIS magic (nibble D).
    */
  private val DictSkippableMagic = 0x184D2A5D
  private val BlockMaxAbs = 128 << 10
  /** Largest declared expansion decoded in one shot into an output
    * allocated up front; bigger claims stream instead.
    */
  private val MaxOneShotRatio = 128L

  private def leU32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) | ((b(i + 2) & 0xFF) << 16) |
      ((b(i + 3) & 0xFF) << 24)

  private def isSkippable(magic: Int): Boolean =
    magic >= SkippableMin && magic <= SkippableMin + 15

  def isZstd(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 && {
      val m = leU32(b, 0)
      m == FrameMagic || isSkippable(m)
    }

  /** One-pass classify-and-decode outcome: decoded bytes, a named
    * profile gap (dictionary-requiring frame), or corruption.
    */
  sealed trait Result
  final case class Ok(bytes: Array[Byte]) extends Result
  case object NeedsDictionary extends Result
  case object Corrupt extends Result

  /** Decode a complete zstd stream (one or more concatenated frames;
    * skippable frames skipped), classifying the failure mode —
    * [[NeedsDictionary]] for a frame naming a dictionary ID that no
    * dictionary in hand carries, [[Corrupt]] for everything else that
    * fails: truncation, malformed blocks, checksum mismatch, output
    * past `cap`.
    */
  def decodeResult(b: Array[Byte], cap: Long = 1L << 30): Result =
    decodeResultWithDict(b, null, cap)

  /** [[decodeResult]] with an EXTERNAL dictionary (raw-content or
    * structured `0xEC30A437` bytes) supplied out-of-band — the shape
    * for corpora whose dictionary lives in a sidecar file rather than
    * a leading skippable frame. An embedded skippable-frame
    * dictionary still takes precedence for frames after it.
    */
  def decodeResultWithDict(b: Array[Byte], dictBytes: Array[Byte],
      cap: Long = 1L << 30): Result = {
    if (b == null || b.length < 4) return Corrupt
    val opened = ArrayBuffer.empty[ZstdDictDecompress]
    val ctx = new ZstdDecompressCtx
    try {
      var dict: Dict = null
      if (dictBytes != null) {
        dict = openDict(dictBytes, opened)
        if (dict == null) return Corrupt
      }
      var loaded: Dict = null
      val out = new Capped.Sink(cap, b.length * 4L)
      var p = 0
      var sawFrame = false
      while (p < b.length) {
        if (p + 4 > b.length) return Corrupt
        val magic = leU32(b, p)
        if (isSkippable(magic)) {
          if (p + 8 > b.length) return Corrupt
          val end = p + 8 + (leU32(b, p + 4) & 0xFFFFFFFFL)
          if (end > b.length) return Corrupt
          // Common Crawl ships the shared dictionary in a leading
          // skippable frame; any other skippable payload stays inert
          if (magic == DictSkippableMagic && end > p + 8) {
            val d = dictFromSkippable(
              java.util.Arrays.copyOfRange(b, p + 8, end.toInt), cap, opened)
            if (d != null) dict = d
          }
          p = end.toInt
        } else if (magic == FrameMagic) {
          val id = ZstdLib.getDictIdFromFrame(
            java.util.Arrays.copyOfRange(b, p, math.min(p + 18, b.length)))
          if (id != 0 && (dict == null || dict.id != id)) return NeedsDictionary
          val len = ZstdLib.findFrameCompressedSize(b, p, b.length - p).toInt
          if (dict ne loaded) { ctx.loadDict(dict.native); loaded = dict }
          val size = ZstdLib.getFrameContentSize(b, p, len)
          if (size >= 0 && size <= len * MaxOneShotRatio) {
            // a plausible declared size: checked against the cap, then
            // decoded in one shot straight into the output
            out.reserve(size)
            if (ctx.decompressByteArray(out.buf, out.len, size.toInt,
                b, p, len) != size) return Corrupt
            out.len += size.toInt
          } else {
            // unknown or outsized claim: stream, so memory follows the
            // real output (a forged header cannot make us allocate)
            val in = new ZstdInputStreamNoFinalizer(
              new ByteArrayInputStream(b, p, len))
            try {
              if (dict != null) in.setDict(dict.native)
              out.readAll(in)
            } finally in.close()
          }
          p += len
          sawFrame = true
        } else return Corrupt
      }
      if (sawFrame) Ok(out.result) else Corrupt
    } catch {
      case _: IOException | _: RuntimeException => Corrupt
    } finally {
      ctx.close()
      opened.foreach(_.close())
    }
  }

  /** [[decodeResult]] collapsed to the degrade-don't-throw contract
    * every decoder here shares: bytes or null.
    */
  def decode(b: Array[Byte], cap: Long = 1L << 30): Array[Byte] =
    decodeResult(b, cap) match {
      case Ok(bytes) => bytes
      case _ => null
    }

  /** True iff the stream is well-formed up to a frame header that
    * names a dictionary ID no dictionary in hand carries — the
    * profile-gap shape, distinct from corruption.
    */
  def unsupportedProfile(b: Array[Byte], cap: Long = 1L << 30): Boolean =
    decodeResult(b, cap) == NeedsDictionary

  /** A digested dictionary and the ID frames must name to use it (0
    * for raw content, which carries none).
    */
  private final class Dict(val id: Long, val native: ZstdDictDecompress)

  /** Digest dictionary bytes (structured when the magic leads, raw
    * content otherwise); null when empty or damaged.
    */
  private def openDict(bytes: Array[Byte],
      opened: ArrayBuffer[ZstdDictDecompress]): Dict =
    if (bytes.isEmpty) null
    else try {
      val native = new ZstdDictDecompress(bytes)
      opened += native
      new Dict(ZstdLib.getDictIdFromDict(bytes), native)
    } catch { case _: RuntimeException => null }

  /** The dictionary a nibble-D skippable payload carries — structured
    * bytes, a zstd frame wrapping them, or raw content. An undecodable
    * payload is just a skippable frame (null), not stream corruption.
    */
  private def dictFromSkippable(payload: Array[Byte], cap: Long,
      opened: ArrayBuffer[ZstdDictDecompress]): Dict = {
    val plain =
      if (payload.length >= 4 && leU32(payload, 0) == FrameMagic)
        decode(payload, cap)
      else payload
    if (plain == null) null else openDict(plain, opened)
  }

  private val Xxh64 = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash64()
  private def xxh64(b: Array[Byte], off: Int, len: Int, seed: Long): Long =
    Xxh64.hash(b, off, len, seed)

  // ---- synthesizer ---------------------------------------------------
  // Write-side counterparts for corpora and interop pins — same role
  // synthWarc/synthPng play for their decoders. These emit REAL frames
  // any conformant zstd reads; the spec pins them against the
  // independent decoder Spark bundles.

  /** Forward bit-packer whose output the BACKWARD reader consumes:
    * fields added first are read LAST. `finish()` appends the
    * sentinel 1-bit and zero-pads to a byte.
    */
  private final class BitWriter {
    private val bytes = ArrayBuffer.empty[Byte]
    private var cur = 0L
    private var nbits = 0
    def add(v: Long, n: Int): Unit = {
      if (n > 0) {
        cur |= (v & ((1L << n) - 1)) << nbits
        nbits += n
        while (nbits >= 8) {
          bytes += (cur & 0xFF).toByte
          cur >>>= 8
          nbits -= 8
        }
      }
    }
    def finish(): Array[Byte] = {
      add(1, 1)
      if (nbits > 0) {
        bytes += (cur & 0xFF).toByte
        cur = 0
        nbits = 0
      }
      bytes.toArray
    }
  }

  private def leBytes(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * i)) & 0xFF).toByte)

  /** Frame header for a single-segment frame with known content size. */
  private def frameHeader(contentLen: Long, checksum: Boolean): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    out ++= leBytes(FrameMagic & 0xFFFFFFFFL, 4)
    val (fcsFlag, fcsBytes) =
      if (contentLen <= 255) (0, 1)
      else if (contentLen <= 65535 + 256) (1, 2)
      else if (contentLen <= 0xFFFFFFFFL) (2, 4)
      else (3, 8)
    val desc = (fcsFlag << 6) | 0x20 | (if (checksum) 4 else 0)
    out += desc.toByte
    val stored = if (fcsFlag == 1) contentLen - 256 else contentLen
    out ++= leBytes(stored, fcsBytes)
    out.toArray
  }

  private def blockHeader(last: Boolean, btype: Int, size: Int): Array[Byte] =
    leBytes(((size << 3) | (btype << 1) | (if (last) 1 else 0)).toLong, 3)

  /** A stored (raw-blocks) frame: always valid, any payload. */
  def synthRawFrame(data: Array[Byte], checksum: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(frameHeader(data.length.toLong, checksum))
    var p = 0
    if (data.length == 0) out.write(blockHeader(last = true, 0, 0))
    while (p < data.length) {
      val n = math.min(BlockMaxAbs, data.length - p)
      out.write(blockHeader(p + n == data.length, 0, n))
      out.write(data, p, n)
      p += n
    }
    if (checksum)
      out.write(leBytes(xxh64(data, 0, data.length, 0L) & 0xFFFFFFFFL, 4))
    out.toByteArray
  }

  /** An RLE-block frame: `n` copies of `v` per block. */
  def synthRleFrame(v: Byte, n: Int, checksum: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(frameHeader(n.toLong, checksum))
    var left = n
    if (n == 0) out.write(blockHeader(last = true, 0, 0))
    while (left > 0) {
      val k = math.min(BlockMaxAbs, left)
      out.write(blockHeader(k == left, 1, k))
      out.write(v)
      left -= k
    }
    if (checksum) {
      val data = new Array[Byte](n)
      java.util.Arrays.fill(data, v)
      out.write(leBytes(xxh64(data, 0, n, 0L) & 0xFFFFFFFFL, 4))
    }
    out.toByteArray
  }

  /** A skippable frame wrapping `payload` (readers must skip it). */
  def synthSkippableFrame(payload: Array[Byte], nibble: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(leBytes((SkippableMin + (nibble & 15)).toLong, 4))
    out.write(leBytes(payload.length.toLong, 4))
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  // ---- dictionary synthesis (RFC 8878 §5 write side) -------------------

  /** Forward LSB-first bit packer for FSE normalized-count headers
    * (byte-aligned at the end; padding bits are never read).
    */
  private final class FwdBitWriter {
    private val bytes = ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nbits = 0
    def add(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((v >> i) & 1) << nbits
        nbits += 1
        if (nbits == 8) { bytes += cur.toByte; cur = 0; nbits = 0 }
        i += 1
      }
    }
    def finish(): Array[Byte] = {
      if (nbits > 0) { bytes += cur.toByte; cur = 0; nbits = 0 }
      bytes.toArray
    }
  }

  /** Normalized-count header for a single-symbol table: accuracy log
    * 5, symbol `sym` carrying the whole 2⁵ probability. (Count fields
    * per §4.1.1: value 1 in 5 bits = "count 0", 2-bit zero-run
    * repeats, value 63 in 6 bits = "count 32" while remaining=33.)
    */
  private def fseWriteSingleNCount(sym: Int): Array[Byte] = {
    val w = new FwdBitWriter
    w.add(0, 4) // accuracy_log = 5
    if (sym == 0) w.add(63, 6)
    else {
      w.add(1, 5) // symbol 0: count 0
      var left = sym - 1 // zero-run 2-bit fields advance to `sym`
      while (left >= 3) { w.add(3, 2); left -= 3 }
      w.add(left, 2)
      w.add(63, 6)
    }
    w.finish()
  }

  /** The alphabet the synthesized dictionary's Huffman table covers:
    * 'a','b' (2-bit codes) and 'c' (1-bit, the implied last weight).
    */
  val DictHufAlphabet: Seq[Byte] = Seq('a'.toByte, 'b'.toByte, 'c'.toByte)

  /** A structured dictionary: magic, id, entropy tables (Huffman over
    * 'a'/'b'/'c'; single-symbol FSE tables pinning OF code 6, ML code
    * 38, LL code 0 for Repeat-mode frames), rep offsets {1,4,8}, then
    * `content` as match history. `content.length` must be ≥ 8 (rep
    * offsets must not exceed it).
    */
  def synthDictionary(dictId: Int, content: Array[Byte]): Array[Byte] = {
    require(content.length >= 8, "dictionary content too short for rep offsets")
    val out = new java.io.ByteArrayOutputStream()
    out.write(leBytes(DictMagic & 0xFFFFFFFFL, 4))
    out.write(leBytes(dictId.toLong & 0xFFFFFFFFL, 4))
    // Huffman: direct 4-bit weights for symbols 0..98 ('a'=97 w1,
    // 'b'=98 w1); 'c'=99 is the implied last weight (2)
    out.write(127 + 99) // direct representation, 99 listed weights
    val nib = new Array[Int](100)
    nib(97) = 1; nib(98) = 1
    var i = 0
    while (i < 99) {
      out.write(((nib(i) << 4) | (if (i + 1 < 99) nib(i + 1) else 0)) & 0xFF)
      i += 2
    }
    out.write(fseWriteSingleNCount(6)) // OF: code 6 → offsets 61..124
    out.write(fseWriteSingleNCount(38)) // ML: code 38 → lengths 51..58
    out.write(fseWriteSingleNCount(0)) // LL: code 0 → literal length 0
    out.write(leBytes(1, 4)) // rep offsets
    out.write(leBytes(4, 4))
    out.write(leBytes(8, 4))
    out.write(content, 0, content.length)
    out.toByteArray
  }

  /** Wrap dictionary bytes in the Common Crawl dictionary skippable
    * frame (magic nibble D) — the leading frame `.warc.zst` drops
    * carry theirs in.
    */
  def synthDictSkippableFrame(dict: Array[Byte]): Array[Byte] =
    synthSkippableFrame(dict, nibble = 0xD)

  private def frameHeaderDict(contentLen: Long, dictId: Int,
      checksum: Boolean): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    out ++= leBytes(FrameMagic & 0xFFFFFFFFL, 4)
    val (fcsFlag, fcsBytes) =
      if (contentLen <= 255) (0, 1)
      else if (contentLen <= 65535 + 256) (1, 2)
      else (2, 4)
    val (dictFlagBits, dictBytes) =
      if (dictId == 0) (0, 0)
      else if (dictId <= 0xFFFF) (2, 2)
      else (3, 4)
    out += ((fcsFlag << 6) | 0x20 | (if (checksum) 4 else 0) | dictFlagBits).toByte
    if (dictBytes > 0) out ++= leBytes(dictId.toLong & 0xFFFFFFFFL, dictBytes)
    val stored = if (fcsFlag == 1) contentLen - 256 else contentLen
    out ++= leBytes(stored, fcsBytes)
    out.toArray
  }

  /** A frame NAMING `dictId` whose one compressed-block sequence
    * copies `copyLen` (51..58) bytes from the START of the
    * dictionary's content: raw block `prefix`, then the dictionary
    * splice, then raw block `suffix`. Decodes to
    * `prefix ++ dictContent.take(copyLen) ++ suffix` — but only with
    * the dictionary in hand (the match offset escapes the frame).
    * RLE-mode tables in-block, so only history + id wiring is
    * exercised; [[synthDictRepeatFrame]] covers the entropy side.
    */
  def synthDictSpliceFrame(dictId: Int, prefix: Array[Byte],
      dictContentLen: Int, copyLen: Int, suffix: Array[Byte],
      checksum: Boolean = false, dictContent: Array[Byte] = null): Array[Byte] = {
    require(copyLen >= 51 && copyLen <= 58, "copyLen must fit ML code 38")
    require(copyLen <= dictContentLen, "copy escapes dictionary content")
    val offset = prefix.length + dictContentLen
    val offsetValue = offset + 3L
    val ofCode = 63 - java.lang.Long.numberOfLeadingZeros(offsetValue)
    require(ofCode >= 3 && ofCode <= 30, "offset out of synth range")
    val extras = (offsetValue - (1L << ofCode)).toInt
    val block = new java.io.ByteArrayOutputStream()
    block.write(0) // raw literals, size 0
    block.write(1) // nbSeq = 1
    block.write((1 << 6) | (1 << 4) | (1 << 2)) // LL/OF/ML all RLE
    block.write(0) // LL code 0 → litLen 0
    block.write(ofCode.toInt)
    block.write(38) // ML code 38 → base 51, 3 extra bits
    val bw = new BitWriter
    bw.add((copyLen - 51).toLong, 3)
    bw.add(extras.toLong, ofCode.toInt) // OF extras: read first, written last
    val bits = bw.finish()
    block.write(bits, 0, bits.length)
    val payload = block.toByteArray
    val content = prefix ++
      (if (dictContent != null) dictContent.take(copyLen)
       else new Array[Byte](copyLen)) ++ suffix
    val out = new java.io.ByteArrayOutputStream()
    out.write(frameHeaderDict(content.length.toLong, dictId, checksum))
    if (prefix.nonEmpty)
      out.write(blockHeader(last = false, 0, prefix.length))
    if (prefix.nonEmpty) out.write(prefix, 0, prefix.length)
    out.write(blockHeader(last = suffix.isEmpty, 2, payload.length))
    out.write(payload, 0, payload.length)
    if (suffix.nonEmpty) {
      out.write(blockHeader(last = true, 0, suffix.length))
      out.write(suffix, 0, suffix.length)
    }
    if (checksum) {
      require(dictContent != null,
        "checksummed splice frame needs the dictionary content")
      out.write(leBytes(xxh64(content, 0, content.length, 0L) & 0xFFFFFFFFL, 4))
    }
    out.toByteArray
  }

  /** A frame NAMING `dictId` whose first block uses Repeat-mode
    * sequence tables AND treeless literals — both primed from the
    * dictionary's entropy tables, nothing described in-block.
    * Literals must be drawn from [[DictHufAlphabet]]; each sequence
    * is (matchLen 51..58, offset 61..124) with literal length 0
    * (the dictionary's LL/ML/OF tables pin codes 0/38/6). Decodes to
    * the match copies (over dict history ++ own output) followed by
    * the literal tail.
    */
  def synthDictRepeatFrame(dictId: Int, literals: Array[Byte],
      seqs: Seq[(Int, Int)], dictContent: Array[Byte],
      checksum: Boolean = false): Array[Byte] = {
    require(literals.nonEmpty && literals.length <= 1023, "literals 1..1023")
    require(literals.forall(DictHufAlphabet.contains),
      "literals must be in the dictionary Huffman alphabet")
    require(seqs.nonEmpty && seqs.size < 128, "1..127 sequences")
    require(seqs.forall { case (ml, of) =>
      ml >= 51 && ml <= 58 && of >= 61 && of <= 124 }, "seq out of code range")
    // Huffman-encode the literals with the dictionary's table:
    // 'a'→00₂, 'b'→01₂, 'c'→1₁ (canonical cells 0,1,2-3); codes are
    // consumed top-down so they are written in reverse literal order
    val hw = new BitWriter
    for (ch <- literals.reverse) (ch: @unchecked) match {
      case 'a' => hw.add(0, 2)
      case 'b' => hw.add(1, 2)
      case 'c' => hw.add(1, 1)
    }
    val huf = hw.finish()
    require(huf.length <= 1023, "huffman stream too long for size format 0")
    val block = new java.io.ByteArrayOutputStream()
    // literals header: type 3 (treeless), size_format 0 (10-bit sizes)
    val litSize = literals.length
    val compSize = huf.length
    block.write(3 | ((litSize & 0xF) << 4))
    block.write(((litSize >> 4) & 0x3F) | ((compSize & 3) << 6))
    block.write(compSize >> 2)
    block.write(huf, 0, huf.length)
    block.write(seqs.size)
    block.write((3 << 6) | (3 << 4) | (3 << 2)) // LL/OF/ML all Repeat
    val bw = new BitWriter
    for ((ml, of) <- seqs.reverse) {
      bw.add((ml - 51).toLong, 3)
      bw.add((of + 3 - 64).toLong, 6) // OF code 6: offsetValue = 64 + extras
    }
    // initial states (single-symbol tables: any state; read LL, OF,
    // ML first-to-last, so written in reverse)
    bw.add(0, 5) // ML
    bw.add(0, 5) // OF
    bw.add(0, 5) // LL — read first
    val bits = bw.finish()
    block.write(bits, 0, bits.length)
    val payload = block.toByteArray
    val content = decodeForSynthDict(dictContent, literals,
      seqs.map { case (ml, of) => (0, ml, of) })
    val out = new java.io.ByteArrayOutputStream()
    out.write(frameHeaderDict(content.length.toLong, dictId, checksum))
    out.write(blockHeader(last = true, 2, payload.length))
    out.write(payload, 0, payload.length)
    if (checksum)
      out.write(leBytes(xxh64(content, 0, content.length, 0L) & 0xFFFFFFFFL, 4))
    out.toByteArray
  }

  /** Replay of a dictionary-referencing synth frame: sequences of
    * (litLen, matchLen, offset) over the virtual stream
    * `dictContent ++ output`, then the literal tail — the closed form
    * oracles replay.
    */
  def decodeForSynthDict(dictContent: Array[Byte], literals: Array[Byte],
      seqs: Seq[(Int, Int, Int)]): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    var lp = 0
    for ((ll, ml, off) <- seqs) {
      out ++= literals.slice(lp, lp + ll)
      lp += ll
      var i = 0
      while (i < ml) {
        val virt = out.length - off
        out += (if (virt < 0) dictContent(dictContent.length + virt)
                else out(virt))
        i += 1
      }
    }
    out ++= literals.drop(lp)
    out.toArray
  }

  /** A frame whose header names dictionary id `dictId` — well-formed
    * but unreadable without that dictionary: the shape
    * [[unsupportedProfile]] reports when no embedded or external
    * dictionary supplies it.
    */
  def synthDictFrame(dictId: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(leBytes(FrameMagic & 0xFFFFFFFFL, 4))
    out.write(0x22) // single-segment, 2-byte dict id, fcs flag 0
    out.write(leBytes(dictId.toLong, 2))
    out.write(1) // fcs = 1 byte content
    out.write(blockHeader(last = true, 0, 1))
    out.write('x')
    out.toByteArray
  }

  /** One sequence for [[synthCompressedFrame]]: `litLen` literals,
    * then a `matchLen`-byte copy from `offset` back. Lengths must be
    * expressible with constant codes per frame: litLen 0-15
    * (codes 0-15, zero extra bits — the RLE literal-length table pins
    * ONE code, so all sequences in a frame share litLen), matchLen
    * 51-58 (code 38, 3 extra bits), offset 5-8 (code 3, offsetValue
    * 8+e in 8..11 → offset 5..8).
    */
  final case class SynthSeq(litLen: Int, matchLen: Int, offset: Int)

  /** A REAL compressed-block frame built by hand: raw literals inside
    * the block, RLE-mode sequence tables (one byte pins each code;
    * per-sequence variation rides the extra bits), the sequence
    * bitstream written in exact reverse read order. Exercises the
    * decoder's compressed-block spine — literals section, table
    * descriptors, backward bitstream, sequence execution — with
    * knowable output: decode = `literals[0,litLen)` then the match
    * copies, repeating per sequence, then the literal tail.
    */
  def synthCompressedFrame(literals: Array[Byte], seqs: Seq[SynthSeq],
      checksum: Boolean = false): Array[Byte] = {
    require(seqs.nonEmpty, "need at least one sequence")
    val ll = seqs.head.litLen
    require(ll >= 0 && ll <= 15 && seqs.forall(_.litLen == ll),
      "litLen must be constant in 0..15 (RLE LL table)")
    require(seqs.forall(s => s.matchLen >= 51 && s.matchLen <= 58),
      "matchLen must be in 51..58 (ML code 38)")
    require(seqs.forall(s => s.offset >= 5 && s.offset <= 8),
      "offset must be in 5..8 (OF code 3)")
    val block = new java.io.ByteArrayOutputStream()
    // literals section: Raw, size_format 0 (5-bit) or 1 (12-bit)
    if (literals.length < 32)
      block.write((literals.length << 3) | 0)
    else {
      require(literals.length < 4096, "synth literals cap")
      block.write(((literals.length & 0xF) << 4) | (1 << 2))
      block.write(literals.length >> 4)
    }
    block.write(literals, 0, literals.length)
    require(seqs.size < 128, "synth nbSeq cap")
    block.write(seqs.size)
    // modes: LL RLE, OF RLE, ML RLE
    block.write((1 << 6) | (1 << 4) | (1 << 2))
    block.write(ll) // LL code = the literal length itself (0 extra bits)
    block.write(3)  // OF code 3: offsetValue = 8 + 3 extra bits
    block.write(38) // ML code 38: base 51 + 3 extra bits
    // bitstream: reader consumes per sequence OF extras, ML extras,
    // LL extras (none) — and reads the stream BACKWARD, so we write
    // sequences in reverse order, extras reversed within each
    val bw = new BitWriter
    for (s <- seqs.reverse) {
      bw.add((s.matchLen - 51).toLong, 3)
      bw.add((s.offset + 3 - 8).toLong, 3) // offsetValue = offset + 3
    }
    val bits = bw.finish()
    block.write(bits, 0, bits.length)
    val payload = block.toByteArray
    val content = decodeForSynth(literals, seqs)
    val out = new java.io.ByteArrayOutputStream()
    out.write(frameHeader(content.length.toLong, checksum))
    out.write(blockHeader(last = true, 2, payload.length))
    out.write(payload, 0, payload.length)
    if (checksum)
      out.write(leBytes(xxh64(content, 0, content.length, 0L) & 0xFFFFFFFFL, 4))
    out.toByteArray
  }

  /** The content [[synthCompressedFrame]] regenerates — the closed
    * form oracles replay.
    */
  def decodeForSynth(literals: Array[Byte], seqs: Seq[SynthSeq]): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    var lp = 0
    for (s <- seqs) {
      out ++= literals.slice(lp, lp + s.litLen)
      lp += s.litLen
      var i = 0
      while (i < s.matchLen) {
        out += out(out.length - s.offset)
        i += 1
      }
    }
    out ++= literals.drop(lp)
    out.toArray
  }
}
