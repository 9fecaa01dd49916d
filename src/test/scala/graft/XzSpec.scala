package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Xz

/** The xz adapter's posture over xz-java: presets 0-9, every check
  * type, multi-stream concatenation, output capped across streams, a
  * memory limit on the declared dictionary, and damage classes that
  * degrade to null.
  */
class XzSpec extends AnyFunSuite {

  private def gen(n: Int, seed: Long): Array[Byte] =
    Array.tabulate(n)(j => ((seed * 13 + j.toLong * 37) % 256).toByte)

  private def texty(n: Int, seed: Long): Array[Byte] = {
    val sb = new StringBuilder
    var i = 0L
    while (sb.length < n) {
      sb.append("the quick brown fox jumps over the lazy dog ")
      sb.append((seed * 31 + i * 17) % 1000).append(' ')
      i += 1
    }
    sb.toString.getBytes("US-ASCII").take(n)
  }

  private def xzc(data: Array[Byte], preset: Int,
      check: Int = org.tukaani.xz.XZ.CHECK_CRC64): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val opts = new org.tukaani.xz.LZMA2Options(preset)
    val z = new org.tukaani.xz.XZOutputStream(bos, opts, check)
    z.write(data); z.close()
    bos.toByteArray
  }

  test("decodes xz-java output across presets and payload shapes") {
    val payloads = Seq(
      Array.emptyByteArray, "x".getBytes("US-ASCII"),
      texty(100, 3), texty(5000, 4), gen(20000, 5),
      Array.fill[Byte](50000)(7), texty(300000, 6))
    for ((p, i) <- payloads.zipWithIndex; preset <- Seq(0, 1, 6, 9)) {
      val z = xzc(p, preset)
      val got = Xz.decode(z)
      assert(got != null, s"payload $i preset $preset")
      assert(java.util.Arrays.equals(got, p), s"payload $i preset $preset")
    }
  }

  test("all check types verify: none, crc32, crc64, sha-256") {
    val data = texty(9000, 11)
    for (check <- Seq(org.tukaani.xz.XZ.CHECK_NONE,
        org.tukaani.xz.XZ.CHECK_CRC32, org.tukaani.xz.XZ.CHECK_CRC64,
        org.tukaani.xz.XZ.CHECK_SHA256)) {
      val z = xzc(data, 6, check)
      assert(java.util.Arrays.equals(Xz.decode(z), data), s"check=$check")
      // a payload-region flip must be caught for checked streams
      if (check != org.tukaani.xz.XZ.CHECK_NONE) {
        val bad = z.clone()
        bad(z.length / 2) = (bad(z.length / 2) ^ 0x24).toByte
        assert(Xz.decode(bad) == null, s"flip check=$check")
      }
    }
  }

  test("concatenated streams and stream padding decode whole") {
    val a = texty(4000, 21)
    val b = gen(700, 22)
    val cat = xzc(a, 6) ++ Array.fill[Byte](4)(0) ++ xzc(b, 1)
    val got = Xz.decode(cat)
    assert(got != null && java.util.Arrays.equals(got, a ++ b))
  }

  test("damage degrades to null, never throws") {
    val good = xzc(texty(5000, 31), 6)
    for (cut <- Seq(1, 5, 11, 13, good.length / 2, good.length - 1))
      assert(Xz.decode(good.take(cut)) == null, s"cut=$cut")
    for (i <- 0 until good.length by 7) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x15).toByte
      val out = Xz.decode(bad)
      if (out != null) // flips in slack: the CRC64 pins content
        assert(java.util.Arrays.equals(out, Xz.decode(good)))
    }
    assert(Xz.decode(gen(64, 32)) == null)
    // bomb cap
    val bomb = xzc(new Array[Byte](1 << 21), 9)
    assert(Xz.decode(bomb, cap = 1 << 16) == null)
    assert(Xz.decode(bomb, cap = 1 << 22) != null)
    // the cap counts across concatenated streams: each fits, the sum not
    val part = xzc(new Array[Byte](40000), 1)
    assert(Xz.decode(part, cap = 1 << 16) != null)
    assert(Xz.decode(part ++ part, cap = 1 << 16) == null)
    // a forged block header naming a 4 GiB dictionary (props byte 40,
    // header CRC32 fixed up) is refused before the dictionary is
    // allocated
    val forged = good.clone()
    val hdr = 12 // the block header follows the 12-byte stream header
    val hdrSize = ((forged(hdr) & 0xFF) + 1) * 4
    assert(forged(hdr + 1) == 0 && forged(hdr + 2) == 0x21 && forged(hdr + 3) == 1,
      "expected a size-less LZMA2-only block header")
    forged(hdr + 4) = 40
    val crc = new java.util.zip.CRC32()
    crc.update(forged, hdr, hdrSize - 4)
    for (k <- 0 until 4)
      forged(hdr + hdrSize - 4 + k) = (crc.getValue >>> (8 * k)).toByte
    assert(Xz.decode(forged) == null)
  }
}
