package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Zstd
import graft.operators.Zstd.SynthSeq

/** The zstd adapter's posture over zstd-jni: it must read real zstd
  * output byte-exactly (levels that produce raw, predefined-FSE,
  * FSE-table and Huffman-literal block shapes) and every frame our
  * synthesizers emit; split dictionary-requiring frames from
  * corruption; cap output across frames; and degrade, never throw, on
  * the corruption classes `decode_err_rates` plants.
  */
class ZstdSpec extends AnyFunSuite {

  private def gen(n: Int, seed: Long): Array[Byte] =
    Array.tabulate(n)(j => ((seed * 13 + j.toLong * 37) % 256).toByte)

  /** Compressible text-like payload: repeated phrases + noise. */
  private def texty(n: Int, seed: Long): Array[Byte] = {
    val sb = new StringBuilder
    var i = 0L
    while (sb.length < n) {
      sb.append("the quick brown fox jumps over the lazy dog ")
      sb.append((seed * 31 + i * 17) % 1000)
      sb.append(' ')
      i += 1
    }
    sb.toString.getBytes("US-ASCII").take(n)
  }

  private def jniCompress(data: Array[Byte], level: Int,
      checksum: Boolean): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setLevel(level)
      ctx.setChecksum(checksum)
      ctx.compress(data)
    } finally ctx.close()
  }

  private def jniDecompress(frame: Array[Byte], origSize: Int): Array[Byte] =
    com.github.luben.zstd.Zstd.decompress(frame, origSize)

  // ---- our decoder reads REAL zstd output ---------------------------

  test("decodes zstd-jni frames across levels, shapes, checksums") {
    val payloads = Seq(
      gen(0, 1), gen(1, 2), gen(100, 3), gen(5000, 4), gen(200000, 5),
      texty(100, 6), texty(5000, 7), texty(300000, 8),
      Array.fill[Byte](70000)(42))
    for (data <- payloads; level <- Seq(1, 3, 19); ck <- Seq(false, true)) {
      val frame = jniCompress(data, level, ck)
      val out = Zstd.decode(frame)
      assert(out != null,
        s"decode failed: n=${data.length} level=$level ck=$ck")
      assert(java.util.Arrays.equals(out, data),
        s"mismatch: n=${data.length} level=$level ck=$ck")
    }
  }

  test("decodes concatenated jni frames with interleaved skippables") {
    val a = texty(4000, 11)
    val b = gen(700, 12)
    val stream =
      Zstd.synthSkippableFrame(gen(33, 13), nibble = 7) ++
      jniCompress(a, 3, true) ++
      Zstd.synthSkippableFrame(Array.empty[Byte]) ++
      jniCompress(b, 19, false)
    val out = Zstd.decode(stream)
    assert(out != null && java.util.Arrays.equals(out, a ++ b))
  }

  // ---- real zstd reads OUR synthesized frames -----------------------

  test("jni decodes our raw, rle, and compressed synth frames") {
    val data = gen(3000, 21)
    for (ck <- Seq(false, true)) {
      val raw = Zstd.synthRawFrame(data, ck)
      assert(java.util.Arrays.equals(jniDecompress(raw, data.length), data))
      val rle = Zstd.synthRleFrame(7, 500, ck)
      assert(java.util.Arrays.equals(jniDecompress(rle, 500),
        Array.fill[Byte](500)(7)))
      val lits = gen(40, 22)
      val seqs = Seq(SynthSeq(8, 51, 5), SynthSeq(8, 54, 6), SynthSeq(8, 58, 8))
      val comp = Zstd.synthCompressedFrame(lits, seqs, ck)
      val want = Zstd.decodeForSynth(lits, seqs)
      assert(java.util.Arrays.equals(jniDecompress(comp, want.length), want))
    }
  }

  test("our decoder round-trips our synth frames") {
    val data = gen(150000, 31) // multi-block raw
    assert(java.util.Arrays.equals(Zstd.decode(Zstd.synthRawFrame(data, true)), data))
    assert(java.util.Arrays.equals(Zstd.decode(Zstd.synthRleFrame(-1, 131073, true)),
      Array.fill[Byte](131073)(-1)))
    val lits = gen(64, 32)
    val seqs = Seq(SynthSeq(12, 57, 7), SynthSeq(12, 52, 5), SynthSeq(12, 51, 8),
      SynthSeq(12, 58, 6))
    val want = Zstd.decodeForSynth(lits, seqs)
    assert(java.util.Arrays.equals(Zstd.decode(Zstd.synthCompressedFrame(lits, seqs, true)),
      want))
  }

  // ---- profile gap vs corruption ------------------------------------

  test("dictionary frames are a nameable profile gap, not corruption") {
    val dict = Zstd.synthDictFrame(12345)
    assert(Zstd.decode(dict) == null)
    assert(Zstd.unsupportedProfile(dict))
    // regular frames and garbage are NOT the profile gap
    assert(!Zstd.unsupportedProfile(Zstd.synthRawFrame(gen(10, 41))))
    assert(!Zstd.unsupportedProfile(gen(64, 42)))
  }

  test("corruption degrades to null, never throws") {
    val good = jniCompress(texty(4000, 51), 3, true)
    assert(Zstd.decode(good) != null)
    // truncations at every boundary class
    for (cut <- Seq(1, 3, 5, 9, good.length / 2, good.length - 1))
      assert(Zstd.decode(good.take(cut)) == null, s"cut=$cut")
    // bit flips through header, block, and checksum regions
    for (i <- Seq(0, 4, 6, 10, good.length / 2, good.length - 2)) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x40).toByte
      val out = Zstd.decode(bad)
      // a flip may land in slack the format ignores; if it decodes at
      // all, the checksum guarantees the CONTENT is still right
      if (out != null)
        assert(java.util.Arrays.equals(out, jniDecompress(good, 4000)))
    }
    // checksum flip specifically must be caught
    val ckBad = good.clone()
    ckBad(ckBad.length - 1) = (ckBad(ckBad.length - 1) ^ 1).toByte
    assert(Zstd.decode(ckBad) == null)
    assert(Zstd.decode(Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte)) == null)
    assert(Zstd.decode(gen(100, 52)) == null) // not zstd at all
  }

  test("decompression bomb caps instead of OOMing") {
    val bomb = jniCompress(new Array[Byte](1 << 20), 19, false)
    assert(Zstd.decode(bomb, cap = 1 << 16) == null)
    assert(Zstd.decode(bomb, cap = 1 << 21) != null)
    // the cap counts across concatenated frames: each fits, the sum not
    // (text, so each frame takes the one-shot path the bomb above skips)
    val part = jniCompress(texty(40000, 71), 3, false)
    assert(Zstd.decode(part, cap = 1 << 16) != null)
    assert(Zstd.decodeResult(part ++ part, cap = 1 << 16) == Zstd.Corrupt)
  }

  test("isZstd recognizes frames and skippables only") {
    assert(Zstd.isZstd(Zstd.synthRawFrame(gen(5, 61))))
    assert(Zstd.isZstd(Zstd.synthSkippableFrame(gen(5, 62))))
    assert(!Zstd.isZstd(gen(64, 63)))
    assert(!Zstd.isZstd(Array[Byte](0x1f, 0x8b.toByte, 8, 0)))
  }

  // ---- dictionaries (RFC 8878 §5) ------------------------------------

  private def jniDecompressWithDict(frame: Array[Byte], origSize: Int,
      dict: Array[Byte]): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdDecompressCtx()
    try { ctx.loadDict(dict); ctx.decompress(frame, origSize) }
    finally ctx.close()
  }

  test("raw-content dictionary: jni-compressed frames decode via the skippable frame") {
    val dict = texty(2000, 7)
    val data = texty(1500, 7) ++ gen(200, 8) ++ texty(800, 7)
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    val frame =
      try { ctx.setLevel(3); ctx.loadDict(dict); ctx.compress(data) }
      finally ctx.close()
    // jni itself needs the dictionary back — pins that the frame
    // really references it
    assert(java.util.Arrays.equals(
      jniDecompressWithDict(frame, data.length, dict), data))
    // Common Crawl shape: dictionary in the leading nibble-D
    // skippable frame, then the compressed frames
    val stream = Zstd.synthDictSkippableFrame(dict) ++ frame
    assert(java.util.Arrays.equals(Zstd.decode(stream), data))
    // external supply works too
    assert(Zstd.decodeResultWithDict(frame, dict) == Zstd.Ok(data).copy(
      bytes = Zstd.decodeResultWithDict(frame, dict)
        .asInstanceOf[Zstd.Ok].bytes) || java.util.Arrays.equals(
      Zstd.decodeResultWithDict(frame, dict).asInstanceOf[Zstd.Ok].bytes, data))
    // and the COMPRESSED-dictionary variant: the skippable payload is
    // itself a zstd frame wrapping the dictionary
    val zdict = jniCompress(dict, 3, false)
    val stream2 = graft.operators.Zstd.synthDictSkippableFrame(zdict) ++ frame
    assert(java.util.Arrays.equals(Zstd.decode(stream2), data))
  }

  test("structured dictionary: splice frames decode with history, id checked") {
    val content = texty(80, 11)
    val dict = Zstd.synthDictionary(777, content)
    val prefix = gen(40, 12)
    val suffix = gen(30, 13)
    val frame = Zstd.synthDictSpliceFrame(777, prefix, content.length, 52,
      suffix, checksum = true, dictContent = content)
    val want = prefix ++ content.take(52) ++ suffix
    // embedded skippable dictionary
    val stream = Zstd.synthDictSkippableFrame(dict) ++ frame
    assert(java.util.Arrays.equals(Zstd.decode(stream), want))
    // external dictionary
    assert(java.util.Arrays.equals(
      Zstd.decodeResultWithDict(frame, dict).asInstanceOf[Zstd.Ok].bytes, want))
    // jni interop: the independent implementation loads our
    // structured dictionary and reads our frame byte-exactly
    assert(java.util.Arrays.equals(
      jniDecompressWithDict(frame, want.length, dict), want))
    // no dictionary → nameable profile gap, not corruption
    assert(Zstd.decodeResult(frame) == Zstd.NeedsDictionary)
    assert(Zstd.unsupportedProfile(frame))
    // WRONG id → still the gap (the id is checked, not assumed)
    val wrongDict = Zstd.synthDictionary(778, content)
    assert(Zstd.decodeResultWithDict(frame, wrongDict) == Zstd.NeedsDictionary)
    assert(Zstd.decodeResult(
      Zstd.synthDictSkippableFrame(wrongDict) ++ frame) == Zstd.NeedsDictionary)
  }

  test("structured dictionary: Repeat-mode tables and treeless literals prime from it") {
    val content = gen(200, 21)
    val dict = Zstd.synthDictionary(4242, content)
    val lits = "abcabccba".getBytes("US-ASCII") ++ Array.fill(20)('c'.toByte)
    val seqs = Seq((51, 100), (58, 61), (52, 124))
    val frame = Zstd.synthDictRepeatFrame(4242, lits, seqs, content,
      checksum = true)
    val want = Zstd.decodeForSynthDict(content, lits,
      seqs.map { case (ml, of) => (0, ml, of) })
    val stream = Zstd.synthDictSkippableFrame(dict) ++ frame
    assert(java.util.Arrays.equals(Zstd.decode(stream), want))
    // jni reads the same frame with the same dictionary — pins the
    // dictionary's serialized entropy tables, not just our parse
    assert(java.util.Arrays.equals(
      jniDecompressWithDict(frame, want.length, dict), want))
    // repeat-offset seeds come from the dictionary (1,4,8 defaults
    // here, but the parse path is the dictionary's 12-byte field)
    assert(Zstd.decodeResult(frame) == Zstd.NeedsDictionary)
  }

  test("dictionary damage degrades: truncated/garbled dicts never poison the stream") {
    val content = texty(80, 31)
    val dict = Zstd.synthDictionary(9, content)
    val frame = Zstd.synthDictSpliceFrame(9, gen(20, 32), content.length, 52,
      Array.emptyByteArray, checksum = false, dictContent = content)
    // truncated dictionary payload → frame lacks its dict → gap
    for (cut <- Seq(4, 8, 12, dict.length / 2))
      assert(Zstd.decodeResult(
        Zstd.synthDictSkippableFrame(dict.take(cut)) ++ frame) ==
        Zstd.NeedsDictionary, s"cut=$cut")
    // non-dict skippable frames keep being skipped silently
    assert(Zstd.decodeResult(Zstd.synthSkippableFrame(gen(16, 33)) ++
      Zstd.synthRawFrame(gen(10, 34))) match {
      case Zstd.Ok(b) => b.length == 10
      case _ => false
    })
  }

}
