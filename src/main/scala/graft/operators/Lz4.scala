package graft.operators

import java.io.{ByteArrayInputStream, IOException}
import net.jpountz.lz4.{LZ4Factory, LZ4FrameInputStream}
import net.jpountz.xxhash.XXHashFactory

/** LZ4 decode through lz4-java — the `.lz4` frame container dataset
  * mirrors and intermediate pipeline drops use, and the raw blocks
  * parquet's LZ4_RAW and ORC's LZ4 codec embed — plus fixture
  * synthesizers. `LZ4FrameInputStream` verifies header, block and
  * content checksums and skips skippable frames;
  * `LZ4SafeDecompressor` bounds-checks raw blocks. This adapter adds
  * the decode posture every decoder here shares:
  *   - the bomb cap, counted across all concatenated frames while
  *     reading;
  *   - never-throw: damage, dictionary frames and output past `cap`
  *     come back as null;
  *   - [[isLz4Content]], the dispatch probe that tells LZ4 from zstd
  *     behind the skippable-frame magic range the two share.
  * (Reference scope note: the ETL core `etl.go:12-68` has no
  * compression surface; extension frontier.)
  */
object Lz4 {

  private val FrameMagic = 0x184D2204
  private val SkippableMin = 0x184D2A50

  /** True when the first CONTENT frame — past any leading skippable
    * frames, whose 0x184D2A5x magic range LZ4 SHARES with zstd — is
    * an LZ4 frame. This is the dispatch probe: a bare magic check
    * would claim skippable-led zstd streams and vice versa.
    */
  def isLz4Content(b: Array[Byte]): Boolean = {
    if (b == null) return false
    var p = 0
    // p strictly increases by >= 8 per hop, so the walk is input-
    // bounded; no hop cap (it would misroute long skippable prefixes)
    while (p + 4 <= b.length) {
      val m = leU32(b, p).toInt
      if (m == FrameMagic) return true
      if (m >= SkippableMin && m <= SkippableMin + 15) {
        if (p + 8 > b.length) return false
        val sz = leU32(b, p + 4)
        if (p + 8 + sz > b.length) return false
        p += 8 + sz.toInt
      } else return false
    }
    false
  }

  private def leU32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) | ((b(i + 2) & 0xFF) << 16) |
      ((b(i + 3) & 0xFF) << 24)) & 0xFFFFFFFFL

  private val Block = LZ4Factory.fastestInstance().safeDecompressor()

  /** Decompress ONE raw LZ4 block (no frame, known decoded size) —
    * the shape parquet's LZ4_RAW codec and similar embeddings use.
    * Null on damage or size mismatch.
    */
  def decodeRawBlock(b: Array[Byte], outLen: Int): Array[Byte] =
    if (b == null || outLen < 0 || outLen > (1 << 26)) null
    else try {
      val out = new Array[Byte](outLen)
      if (Block.decompress(b, 0, b.length, out, 0, outLen) == outLen) out
      else null
    } catch { case _: RuntimeException => null }

  /** Decompress ONE raw LZ4 block of UNKNOWN decoded size, bounded
    * by `cap` — the shape ORC's chunked framing uses. Returns the
    * decoded bytes (length ≤ cap) or null on damage / cap overflow.
    */
  def decodeRawBlockUnsized(b: Array[Byte], cap: Int): Array[Byte] =
    if (b == null || cap < 0 || cap > (1 << 26)) null
    else try {
      val out = new Array[Byte](cap)
      java.util.Arrays.copyOf(out, Block.decompress(b, 0, b.length, out, 0, cap))
    } catch { case _: RuntimeException => null }

  /** Decode a complete `.lz4` stream (one or more frames; skippable
    * frames skipped). Null on damage — bad magics, reserved bits,
    * header/block/content checksum mismatches, dictionary frames, or
    * output past `cap`.
    */
  def decode(b: Array[Byte], cap: Long = 1L << 30): Array[Byte] =
    if (!isLz4Content(b)) null
    else try {
      Capped.readAll(new LZ4FrameInputStream(new ByteArrayInputStream(b)),
        cap, b.length * 2L)
    } catch { case _: IOException | _: RuntimeException => null }

  private val Xxh32 = XXHashFactory.fastestInstance().hash32()
  private def xxh32(b: Array[Byte], off: Int, len: Int, seed: Int): Int =
    Xxh32.hash(b, off, len, seed)

  // ---- synthesizer -------------------------------------------------------

  /** A stored-blocks frame (always valid, any payload), with content
    * size + checksum — the write-side shape for edge tests; real
    * compressed corpora come from the independent lz4-java encoder.
    */
  def synthStoredFrame(data: Array[Byte],
      blockSize: Int = 64 << 10): Array[Byte] = {
    require(blockSize >= 1 && blockSize <= (64 << 10),
      "the frame descriptor declares 64K blocks")
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    w32(FrameMagic)
    val hdr = new java.io.ByteArrayOutputStream()
    hdr.write((1 << 6) | 0x20 | 0x08 | 0x04) // v1, indep, csize, cchecksum
    hdr.write(4 << 4) // 64K max
    val n = data.length.toLong
    for (k <- 0 until 8) hdr.write(((n >> (8 * k)) & 0xFF).toInt)
    val hb = hdr.toByteArray
    out.write(hb, 0, hb.length)
    out.write((xxh32(hb, 0, hb.length, 0) >> 8) & 0xFF)
    var p = 0
    while (p < data.length) {
      val k = math.min(blockSize, data.length - p)
      w32((k | 0x80000000).toInt)
      out.write(data, p, k)
      p += k
    }
    w32(0) // EndMark
    w32(xxh32(data, 0, data.length, 0))
    out.toByteArray
  }

  /** A skippable frame wrapping `payload`. */
  def synthSkippableFrame(payload: Array[Byte], nibble: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    w32(SkippableMin + (nibble & 15))
    w32(payload.length)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }
}
