package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bzip2

/** The bzip2 adapter's posture over commons-compress: real bzip2
  * output read byte-exactly across levels, block shapes, multi-block
  * and multistream files, and RLE1 pathologies; the synthesizer's
  * plain and randomised streams cross-read; output capped across
  * streams; damage degrades to null.
  */
class Bzip2Spec extends AnyFunSuite {

  private def cc(data: Array[Byte], level: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos, level)
    z.write(data); z.close()
    bos.toByteArray
  }

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

  test("decodes commons-compress output across levels and shapes") {
    val payloads = Seq(
      Array.emptyByteArray,
      "x".getBytes("US-ASCII"),
      texty(100, 3), texty(5000, 4), gen(20000, 5),
      // RLE1 pathologies: long runs incl. exactly 4, 259, 260
      Array.fill[Byte](4)(7), Array.fill[Byte](259)(9),
      Array.fill[Byte](260)(9), Array.fill[Byte](1000)(0) ++ texty(50, 6),
      // multi-block at level 1 (>100k forces 2 blocks)
      texty(250000, 7))
    for ((p, i) <- payloads.zipWithIndex; level <- Seq(1, 5, 9)) {
      val z = cc(p, level)
      val got = Bzip2.decode(z)
      assert(got != null, s"payload $i level $level")
      assert(java.util.Arrays.equals(got, p), s"payload $i level $level")
    }
  }

  test("damage degrades to null, never throws") {
    val good = cc(texty(4000, 11), 5)
    assert(Bzip2.decode(good) != null)
    for (cut <- Seq(1, 3, 5, 9, good.length / 2, good.length - 1))
      assert(Bzip2.decode(good.take(cut)) == null, s"cut=$cut")
    for (i <- Seq(0, 3, 4, 10, good.length / 2, good.length - 2)) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x40).toByte
      // a flip may land in slack; if it decodes, CRCs guarantee content
      val out = Bzip2.decode(bad)
      if (out != null)
        assert(java.util.Arrays.equals(out, Bzip2.decode(good)))
    }
    assert(Bzip2.decode(gen(100, 12)) == null)
    assert(!Bzip2.isBzip2("BZh0junk".getBytes("US-ASCII")))
    // bomb cap
    val bomb = cc(new Array[Byte](1 << 21), 9)
    assert(Bzip2.decode(bomb, cap = 1 << 16) == null)
    assert(Bzip2.decode(bomb, cap = 1 << 22) != null)
    // the cap counts across concatenated streams: each fits, the sum not
    val part = cc(new Array[Byte](40000), 9)
    assert(Bzip2.decode(part, cap = 1 << 16) != null)
    assert(Bzip2.decode(part ++ part, cap = 1 << 16) == null)
  }
  test("multistream: concatenated streams decode whole (pbzip2/Wikipedia shape)") {
    val a = texty(3000, 21)
    val b = gen(500, 22)
    val c = texty(120000, 23) // level-1 second stream spans blocks
    val cat = cc(a, 5) ++ cc(b, 9) ++ cc(c, 1)
    val got = Bzip2.decode(cat)
    assert(got != null && got.length == a.length + b.length + c.length)
    assert(java.util.Arrays.equals(got, a ++ b ++ c))
    // trailing garbage after sound streams is tolerated (gzip parity)
    val padded = cc(a, 5) ++ Array.fill[Byte](7)(0x20)
    assert(java.util.Arrays.equals(Bzip2.decode(padded), a))
    // ...but damage INSIDE a later stream is corruption
    val bad = cc(a, 5) ++ cc(b, 9)
    bad(bad.length - 3) = (bad(bad.length - 3) ^ 0x11).toByte
    assert(Bzip2.decode(bad) == null)
  }

  test("RNums matches commons-compress's independent randtable transcription") {
    val cls = Class.forName(
      "org.apache.commons.compress.compressors.bzip2.Rand")
    val m = cls.getDeclaredMethod("rNums", classOf[Int])
    m.setAccessible(true)
    for (i <- 0 until 512)
      assert(m.invoke(null, Int.box(i)) == Int.box(Bzip2.RNums(i)), s"i=$i")
  }

  test("synth streams decode in BOTH implementations, plain and RANDOMISED") {
    val payloads = Seq(
      "x".getBytes("US-ASCII"),
      texty(100, 31), texty(5000, 32), gen(8000, 33),
      Array.fill[Byte](4)(7), Array.fill[Byte](259)(9),
      Array.fill[Byte](260)(9), Array.fill[Byte](1000)(0) ++ texty(50, 34))
    for ((p, i) <- payloads.zipWithIndex; level <- Seq(1, 9);
         rnd <- Seq(false, true)) {
      val z = Bzip2.synthBzip2(p, level, randomised = rnd)
      // our own decoder round-trips
      val mine = Bzip2.decode(z)
      assert(mine != null && java.util.Arrays.equals(mine, p),
        s"self payload $i level $level rnd=$rnd")
      // the independent implementation agrees — THE randtable pin:
      // commons-compress carries its own 0.9.0 table, so a wrong
      // RNums entry or a misplaced flip breaks this cross-decode
      val in = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorInputStream(new java.io.ByteArrayInputStream(z))
      val got = in.readAllBytes()
      in.close()
      assert(java.util.Arrays.equals(got, p),
        s"commons payload $i level $level rnd=$rnd")
    }
    // empty input: header + footer, zero blocks, both readers
    val empty = Bzip2.synthBzip2(Array.emptyByteArray)
    assert(Bzip2.decode(empty) != null && Bzip2.decode(empty).isEmpty)
    // multi-block randomised synth (level 1, >100k plaintext)
    val big = texty(250000, 35)
    val zr = Bzip2.synthBzip2(big, 1, randomised = true)
    assert(java.util.Arrays.equals(Bzip2.decode(zr), big))
    // damage in a randomised stream is still caught by the block CRC
    val bad = zr.clone()
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x08).toByte
    val out = Bzip2.decode(bad)
    if (out != null) assert(java.util.Arrays.equals(out, big))
  }

}
