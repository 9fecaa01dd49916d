package graft.operators

import java.io.{ByteArrayInputStream, IOException}
import org.tukaani.xz.{LZMA2InputStream, LZMAInputStream, XZInputStream}

/** XZ, raw LZMA2 and raw LZMA1 decode through xz-java — the
  * compression academic dataset drops and long-term archives ship in,
  * and the member codecs of 7z folders and ZIP method 14.
  * `XZInputStream` verifies headers, block checks (CRC32, CRC64,
  * SHA-256), the index and the footer, and reads concatenated streams
  * with stream padding. This adapter adds the decode posture every
  * decoder here shares:
  *   - the bomb cap, counted across all streams while reading;
  *   - a memory limit: an `.xz` header may name at most xz `-9`'s
  *     64 MiB dictionary, and the raw LZMA/LZMA2 paths size the
  *     dictionary by the output size their container declares — so a
  *     forged header naming a multi-GiB dictionary is refused before
  *     anything is allocated;
  *   - never-throw: damage, unsupported options and output past `cap`
  *     come back as null.
  * (Reference scope note: the ETL core `etl.go:12-68` has no
  * compression surface; extension frontier.)
  */
object Xz {

  private val Magic = Array[Byte](0xFD.toByte, '7', 'z', 'X', 'Z', 0)

  /** xz `-9`'s 64 MiB dictionary plus the decoder's own state, in KiB. */
  private val MemoryLimitKiB = 65 << 10

  def isXz(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 && (0 until 6).forall(i => b(i) == Magic(i))

  /** Decode a complete `.xz` file (concatenated streams and stream
    * padding included). Null on damage — bad magics, header/footer
    * CRCs, unsupported filters, block check mismatches, index
    * inconsistencies, a dictionary past the memory limit, or output
    * past `cap`.
    */
  def decode(b: Array[Byte], cap: Long = 1L << 30): Array[Byte] =
    if (!isXz(b)) null
    else try {
      Capped.readAll(new XZInputStream(new ByteArrayInputStream(b),
        MemoryLimitKiB), cap, b.length * 4L)
    } catch { case _: IOException | _: RuntimeException => null }

  /** Decode a raw LZMA2 chunk sequence (no xz container, ending in its
    * end marker) — the member codec 7z folders use. `cap` is the
    * folder's declared output size, which also sizes the dictionary.
    * Null on damage or cap breach.
    */
  private[graft] def decodeLzma2Raw(b: Array[Byte], start: Int, endExcl: Int,
      cap: Long): Array[Byte] =
    try {
      val dictSize = math.max(math.min(cap, LZMA2InputStream.DICT_SIZE_MAX.toLong),
        LZMA2InputStream.DICT_SIZE_MIN.toLong).toInt
      Capped.readAll(new LZMA2InputStream(
        new ByteArrayInputStream(b, start, endExcl - start), dictSize),
        cap, (endExcl - start) * 4L)
    } catch { case _: IOException | _: RuntimeException => null }

  /** Decode a RAW LZMA1 stream — ZIP method 14's payload after its
    * `[version u16][propsSize u16][props]` member header. `propsByte`
    * is the classic `(pb*5 + lp)*9 + lc` byte; the output size is
    * KNOWN from the container, so decoding stops at `outSize` bytes,
    * with or without an end-of-stream marker after them, and the
    * dictionary never needs to be larger than `outSize`. Null on
    * damage.
    */
  def decodeLzma1(b: Array[Byte], start: Int, endExcl: Int,
      propsByte: Int, outSize: Int): Array[Byte] =
    try {
      val in = new LZMAInputStream(
        new ByteArrayInputStream(b, start, endExcl - start),
        outSize.toLong, propsByte.toByte, outSize)
      try {
        in.enableRelaxedEndCondition()
        val out = in.readNBytes(outSize)
        if (out.length == outSize) out else null
      } finally in.close()
    } catch { case _: IOException | _: RuntimeException => null }
}
