package graft.operators

import org.tukaani.xz.simple.{ARM, ARMThumb, IA64, PowerPC, SPARC, X86}

/** Branch-conversion (BCJ) filters through xz-java's
  * `org.tukaani.xz.simple` family — the preprocessing step real-world
  * 7z/xz archives of binary and code corpora apply before LZMA so that
  * relative CALL/JMP targets become position-independent absolute
  * addresses (which then compress). The six published one-input
  * transforms (7-Zip Methods.txt ids 0x0303xxyy): x86, ARM, ARM-Thumb,
  * PowerPC, SPARC, IA64. Each converts in place, in either direction
  * (`encoder = true` for relative→absolute), over a whole buffer — the
  * 7z folder shape, where the filter sees the entire coder output —
  * and returns the processed-prefix length (the trailing bytes a
  * branch could span stay untouched). The adapter adds only that
  * whole-buffer, one-shot signature; the 7z integration is pinned
  * both directions against commons-compress (SevenZMethod.BCJ_*_FILTER
  * chains).
  */
object Bcj {

  def x86(buf: Array[Byte], startIp: Int, encoder: Boolean): Int =
    new X86(encoder, startIp).code(buf, 0, buf.length)

  def arm(buf: Array[Byte], startIp: Int, encoder: Boolean): Int =
    new ARM(encoder, startIp).code(buf, 0, buf.length)

  def armThumb(buf: Array[Byte], startIp: Int, encoder: Boolean): Int =
    new ARMThumb(encoder, startIp).code(buf, 0, buf.length)

  def ppc(buf: Array[Byte], startIp: Int, encoder: Boolean): Int =
    new PowerPC(encoder, startIp).code(buf, 0, buf.length)

  def sparc(buf: Array[Byte], startIp: Int, encoder: Boolean): Int =
    new SPARC(encoder, startIp).code(buf, 0, buf.length)

  def ia64(buf: Array[Byte], startIp: Int, encoder: Boolean): Int =
    new IA64(encoder, startIp).code(buf, 0, buf.length)
}
