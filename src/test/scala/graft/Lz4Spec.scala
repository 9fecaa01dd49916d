package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Lz4

/** The LZ4 frame adapter's posture over lz4-java: its frames and our
  * synthesized ones decode, skippables skip, output is capped across
  * frames, and damage degrades to null.
  */
class Lz4Spec extends AnyFunSuite {

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

  private def jni(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
    z.write(data); z.close()
    bos.toByteArray
  }

  test("decodes lz4-java frames across shapes incl. multi-block") {
    for ((p, i) <- Seq(Array.emptyByteArray, "x".getBytes("US-ASCII"),
        texty(100, 3), texty(5000, 4), gen(3000, 5),
        texty(200000, 6), // > 64K: multiple blocks, cross-block matches?
        Array.fill[Byte](100000)(7)).zipWithIndex) {
      val z = jni(p)
      val got = Lz4.decode(z)
      assert(got != null, s"payload $i")
      assert(java.util.Arrays.equals(got, p), s"payload $i")
    }
  }

  test("jni decodes our stored frames; skippables skip") {
    val data = texty(70000, 9)
    val ours = Lz4.synthStoredFrame(data)
    val in = new net.jpountz.lz4.LZ4FrameInputStream(
      new java.io.ByteArrayInputStream(ours))
    assert(java.util.Arrays.equals(in.readAllBytes(), data))
    assert(java.util.Arrays.equals(Lz4.decode(ours), data))
    val withSkip = Lz4.synthSkippableFrame(gen(20, 10)) ++ ours
    assert(java.util.Arrays.equals(Lz4.decode(withSkip), data))
    // concatenated frames append
    val two = jni(texty(40, 11)) ++ Lz4.synthStoredFrame(gen(30, 12))
    val cat = Lz4.decode(two)
    assert(cat != null && cat.length == 70)
  }

  test("damage degrades to null, never throws") {
    val good = jni(texty(5000, 13))
    for (cut <- Seq(1, 4, 6, 8, good.length / 2, good.length - 1))
      assert(Lz4.decode(good.take(cut)) == null, s"cut=$cut")
    // header flips are caught by the header checksum; body flips in a
    // checksum-less frame (lz4-java's default) may legally decode to
    // different bytes — only no-throw is guaranteed by the format
    for (i <- Seq(4, 5, 6, 10, good.length / 2, good.length - 2)) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x41).toByte
      Lz4.decode(bad)
    }
    for (i <- Seq(4, 5, 6)) { // descriptor region: MUST be caught
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x41).toByte
      assert(Lz4.decode(bad) == null, s"header flip $i")
    }
    // a CHECKSUMMED frame pins content: any surviving decode is exact
    val data = texty(5000, 13)
    val pinned = Lz4.synthStoredFrame(data)
    for (i <- 20 until pinned.length - 5 by 97) {
      val bad = pinned.clone()
      bad(i) = (bad(i) ^ 0x41).toByte
      val out = Lz4.decode(bad)
      if (out != null) assert(java.util.Arrays.equals(out, data))
    }
    assert(Lz4.decode(gen(64, 14)) == null)
    // bomb cap
    val bomb = jni(new Array[Byte](1 << 21))
    assert(Lz4.decode(bomb, cap = 1 << 16) == null)
    assert(Lz4.decode(bomb, cap = 1 << 22) != null)
    // the cap counts across concatenated frames: each fits, the sum not
    val part = jni(new Array[Byte](40000))
    assert(Lz4.decode(part, cap = 1 << 16) != null)
    assert(Lz4.decode(part ++ part, cap = 1 << 16) == null)
  }
}
