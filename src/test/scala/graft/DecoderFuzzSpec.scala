package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** The degrade-don't-throw contract, enforced mechanically across
  * EVERY byte-level decoder: hostile input — random bytes, random
  * bytes behind each format's magic, and random mutations/truncations
  * of VALID blobs — must yield null/empty/sentinel, never an
  * exception. At 100 TB scale a single throwing blob kills a task and
  * (after retries) the job, so "never throws on any input" is a
  * correctness property of the ingest path, not a nicety.
  *
  * Deterministic PRNG: failures reproduce by seed.
  */
class DecoderFuzzSpec extends AnyFunSuite {

  private def rng(seed: Long): java.util.Random = new java.util.Random(seed)

  private def randBytes(r: java.util.Random, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    r.nextBytes(b)
    b
  }

  /** Every decoder entry point, by name (for failure messages). */
  private val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
    "Containers.parse" -> (b => Containers.parse(b)),
    "imagePixelBytes" -> (b => Multimodal.imagePixelBytes(b)),
    "wavSamples" -> (b => Containers.wavSamples(b)),
    "tarEntries" -> (b => Containers.tarEntries(b)),
    "gzipMembers" -> (b => Containers.gzipMembers(b)),
    "crawlInflate" -> (b => Containers.crawlInflate(b)),
    "Capped.inflate raw" -> (b =>
      Capped.inflate(b, 0, b.length, 1L << 22, 4096, raw = true)),
    "Capped.inflate zlib" -> (b =>
      Capped.inflate(b, 0, b.length, 1L << 22, 4096, raw = false)),
    "warcRecords" -> (b => Containers.warcRecords(b)),
    "mp4Samples" -> (b => Containers.mp4Samples(b)),
    "Zstd.decode" -> (b => Zstd.decode(b)),
    "Bzip2.decode" -> (b => Bzip2.decode(b)),
    "Lz4.decode" -> (b => Lz4.decode(b)),
    "Xz.decode" -> (b => Xz.decode(b)),
    "Webp.pixelBytes" -> (b => Webp.pixelBytes(b)),
    "Webp.yuv" -> (b => Webp.yuv(b)),
    "Webp.alpha" -> (b => Webp.alpha(b)),
    "Webp.webpAnimate" -> (b => Webp.webpAnimate(b)),
    "Flac.samples" -> (b => Flac.samples(b)),
    "Ogg.packets" -> (b => Ogg.packets(b)),
    "Ogg.flacSamples" -> (b => Ogg.flacSamples(b)),
    "Ogg.audioMeta" -> (b => Ogg.audioMeta(b)),
    "Zip.members" -> (b => Zip.members(b)),
    "Zip.members+pw" -> (b => Zip.members(b, "fuzz-key".getBytes("UTF-8"))),
    "Exif.fromJpeg" -> (b => Exif.fromJpeg(b)),
    "Exif.stripJpeg" -> (b => Exif.stripJpeg(b)),
    "Mp3.parse" -> (b => Mp3.parse(b)),
    "tarDumpdirs" -> (b => Containers.tarDumpdirs(b)),
    "Xz.decodeLzma1" -> (b =>
      Xz.decodeLzma1(b, 0, b.length, if (b.isEmpty) 0 else b(0) & 0xFF,
        math.min(b.length * 4, 4096))),
    "LzwZ.decode" -> (b => LzwZ.decode(b, 1 << 22)),
    "Cpio.members" -> (b => Cpio.members(b)),
    "Ar.members" -> (b => Ar.members(b)),
    "tarMultivolume" -> (b => Containers.tarMultivolume(Seq(b))),
    "Aiff.samples" -> (b => Aiff.samples(b)),
    "Sqlite.rows" -> (b => Sqlite.rows(b, "samples")),
    "TfRecord.records" -> (b => TfRecord.records(b)),
    "Snappy.decode" -> (b => Snappy.decode(b, 1 << 22)),
    "Avro.read" -> (b => Avro.read(b)),
    "TfExample.parse" -> (b => TfExample.parse(b)),
    "Rpm.read" -> (b => Rpm.read(b)),
    "Ipynb.cells" -> (b => Ipynb.cells(new String(b,
      java.nio.charset.StandardCharsets.UTF_8))),
    "Npy.read" -> (b => Npy.read(b)),
    "Npy.npz" -> (b => Npy.npz(b)),
    "Safetensors.read" -> (b => Safetensors.read(b)),
    "GitPack.objects" -> (b => GitPack.objects(b)),
    "Pdf.extract" -> (b => Pdf.extract(b)),
    "SevenZip.members" -> (b => SevenZip.members(b)),
    "Gguf.read" -> (b => Gguf.read(b)),
    "ArrowIpc.read" -> (b => ArrowIpc.read(b)),
    "Pickle.parse" -> (b => Pickle.parse(b)),
    "Npy.readObjects" -> (b => Npy.readObjects(b)),
    "Mbox.split+message" -> { b =>
      val ms = Mbox.split(b)
      if (ms != null) ms.foreach(Mbox.message)
      ms
    },
    "mediaDecodeClass" -> (b => Multimodal.mediaDecodeClass(b)))

  /** Magic prefixes steering random tails into each format's parser
    * (pure random bytes rarely get past the first magic check).
    */
  private val magics: Seq[Array[Byte]] = Seq(
    "BM", "GIF89a", "RIFF1234WAVE", "RIFF1234WEBP", "fLaC", "OggS", "PK\u0003\u0004",
    "WARC/1.0\r\n", "II*\u0000", "MM\u0000*").map(_.getBytes("ISO-8859-1")) ++ Seq(
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
    Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte),
    Array[Byte](0x1f, 0x8b.toByte, 8, 0),
    Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte), // zstd frame
    "BZh5".getBytes("ISO-8859-1"),
    Array[Byte](0xFD.toByte, '7', 'z', 'X', 'Z', 0),
    Array[Byte](0x04, 0x22, 0x4D, 0x18), // lz4 frame
    Array[Byte](0x1f, 0x9d.toByte, 0x90.toByte), // compress .Z block mode
    Array[Byte]('O', 'b', 'j', 1), // avro container
    Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y', 1, 0), // npy
    Array[Byte]('P', 'A', 'C', 'K', 0, 0, 0, 2), // git pack
    Array[Byte](0, 0, 0, 0x20, 'f', 't', 'y', 'p'))

  test("random bytes never throw, with or without format magics") {
    val r = rng(0xF00D)
    for (trial <- 0 until 40; (name, f) <- decoders) {
      val tail = randBytes(r, 8 + r.nextInt(600))
      f(tail) // bare random
      val withMagic = magics(trial % magics.length) ++ tail
      try f(withMagic)
      catch {
        case e: Throwable =>
          fail(s"$name threw ${e.getClass.getSimpleName} on trial $trial " +
            s"(magic ${trial % magics.length}): ${e.getMessage}")
      }
    }
  }

  /** A small arrow-vector-written IPC blob for the mutation corpus. */
  private def arrowBlob(file: Boolean): Array[Byte] = {
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val v = new org.apache.arrow.vector.BigIntVector("v", alloc)
    val root = new org.apache.arrow.vector.VectorSchemaRoot(
      java.util.List.of[org.apache.arrow.vector.FieldVector](v))
    try {
      root.allocateNew()
      (0 until 24).foreach(i => v.setSafe(i, i * 31L))
      root.setRowCount(24)
      val bos = new java.io.ByteArrayOutputStream()
      val ch = java.nio.channels.Channels.newChannel(bos)
      val w: org.apache.arrow.vector.ipc.ArrowWriter =
        if (file) new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, ch)
        else new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, ch)
      w.start(); w.writeBatch(); w.end(); w.close()
      bos.toByteArray
    } finally { root.close(); alloc.close() }
  }

  test("mutated valid blobs never throw") {
    val r = rng(0xBEEF)
    def px(n: Int) = Array.tabulate(n)(i => (i * 31 % 256).toByte)
    def snd(n: Int) = Array.tabulate(n)(j => ((j * 37) % 4096 - 2048))
    val valid: Seq[Array[Byte]] = Seq(
      Containers.synthBmp24(9, 7, px(9 * 7 * 3)),
      Containers.synthPng(8, 6, px(8 * 6 * 3), _ % 5),
      Containers.synthJpegGray(16, 8, (bx, by) => (bx * 8 + by * 3) % 256),
      Containers.synthWav(8000, 1, 16, px(256)),
      Containers.synthTar(Seq(("a/0001.txt", px(40)), ("a/0001.cls", px(1)))),
      Containers.synthWarc(Seq(("response", "https://x.test/1", px(64))),
        gzipPerRecord = true),
      Zstd.synthRawFrame(px(96), checksum = true),
      Flac.synthFlac(16000, 1, snd(220), 128, "lpc2"),
      Ogg.synthOggFlac(16000, 1, snd(180), 128, "fixed2"),
      Zip.synthZip(Seq(("d/0001.txt", px(80), true), ("d/0001.cls", px(1), false))),
      Zip.synthZipMethods(Seq(("m1.bin", px(600), 1), ("m12.bin", px(200), 12),
        ("m14.bin", px(200), 14), ("m93.bin", px(200), 93),
        ("m95.bin", px(200), 95), ("m6a.bin", px(299), 6),
        ("m6b.bin", px(300), 6), ("m2.bin", px(240), 2),
        ("m5.bin", px(260), 5), ("m9.bin", px(280), 9))),
      Zip.synthZipMethods(Seq(("e8.bin", px(220), 8), ("e0.bin", px(90), 0)),
        password = "fuzz-key".getBytes("UTF-8")),
      LzwZ.encode(px(700), 9),
      LzwZ.encode(Containers.synthWarc(
        Seq(("response", "https://x.test/z", px(60)))), 12),
      Cpio.synthCpio(Seq(("c/0001.txt", px(50)), ("c/0001.cls", px(1))),
        "crc"),
      Cpio.synthCpio(Seq(("c/0002.txt", px(33))), "bin_le"),
      Ar.synthAr(Seq(("a-very-long-shard-member-name-0001.txt", px(44)),
        ("0001.cls", px(1))), "gnu"),
      Containers.synthTarMultivolume(
        Seq(("payload.bin", px(3000))), 2048, "lbl")(1),
      Containers.synthTarSpecialMember("d/", 'D',
        Array[Byte]('Y', 'a', 0, 'D', 's', 0, 0)) ++ new Array[Byte](1024),
      Mp3.synthMp3Free(1, 3, 0, mono = true, 4, 120, _ % 2,
        (f, j) => ((f * 31 + j * 13) % 256).toByte),
      Webp.synthWebpAnim(16, 16, 0xFF336699, 0, Seq(
        Webp.AnimFrame(0, 0, 12, 8, null, noBlend = false, dispose = false,
          vp8 = Vp8.synthVp8Frame(12, 8, 25, (_, _) => 3, (_, _) => -2,
            (_, _) => 4),
          alph = Webp.synthAlphPayload(12, 8, px(96), 2, compressed = true)))),
      Exif.withApp1(Containers.synthJpegGray(16, 8, (_, _) => 128),
        Exif.synthApp1(Exif.ExifMeta(1, "2024:01:02 03:04:05", "cam_1", "mdl_1",
          "N", 10, 20, 3000, "E", 30, 40, 5000))),
      Aiff.synthAiff(8000, 1, Array.tabulate(300)(j =>
        ((j * 277) % 65536 - 32768).toShort), "sowt"),
      Sqlite.synthDb("samples", "a TEXT, b INTEGER",
        (0 until 60).map(i => Seq[Any](s"n$i" * (i % 9), i.toLong))),
      TfRecord.synth((0 until 8).map(i => px(30 + i * 11))),
      Snappy.encode(("snappy fuzz block " * 40).getBytes("US-ASCII")),
      Avro.synthAvro(Seq("a", "b"), Seq("string", "long?"),
        (0 until 40).map(i => Seq[Any](s"s$i",
          if (i % 3 == 0) null else i.toLong)), "snappy"),
      TfRecord.synth(Seq(TfExample.synth(Seq(
        ("tokens", TfExample.Int64List(Array(1L, 2L, 3L))),
        ("text", TfExample.BytesList(Array(px(20)))))))),
      Rpm.synthRpm("p", "1.0", "1", "noarch",
        Seq(("./usr/a.bin", px(80))), "zstd"),
      Ipynb.synth(Seq(("code", "a = 1\n", 1L, 1),
        ("markdown", "# t\n", -1L, 0))).getBytes("UTF-8"),
      Mbox.synthMbox(Seq(("s\u00fcbject", "a@x.test",
        Seq("one\n", "two\n", "three\n")))),
      Npy.synthNpy(Array(3, 4), Array.tabulate(12)(_ * 3L), null),
      Npy.synthNpz(Seq(("a", Npy.synthNpy(Array(4),
        Array(1L, 2L, 3L, 4L), null)))),
      Safetensors.synth(Seq(("w", Array(2, 2),
        Left(Array(5L, 6L, 7L, 8L))))),
      GitPack.synthPack(Seq(
        ("blob", px(200)), ("blob", px(150))), Set(1)),
      Pdf.synthPdf(Seq("fuzz page one text", "and page two"), 3),
      Pdf.synthPdf(Seq("lzw hex content page"), 2),
      SevenZip.synth7z(Seq("a.txt" -> px(60), "b" -> px(40)), "solid"),
      SevenZip.synth7z(Seq("c.txt" -> px(80)), "encoded_header"),
      Gguf.synthGguf(Seq("general.name" -> "fz", "n.ctx" -> 128L),
        Seq(("t.weight", Array(8L, 4L), 0))),
      arrowBlob(file = true), arrowBlob(file = false),
      Pickle.synthPickle(Seq("k" -> Seq("a", "b"), "n" -> 42L), 4),
      Pickle.synthPickle(Seq("k" -> 7L), 0),
      Npy.synthObjectNpy(Array(3), Seq("x", 5L, null)))
    for ((blob, bi) <- valid.zipWithIndex; trial <- 0 until 30) {
      val mutated = blob.clone()
      // 1-4 byte flips at random positions
      for (_ <- 0 to r.nextInt(4))
        mutated(r.nextInt(mutated.length)) =
          (mutated(r.nextInt(mutated.length)) ^ (1 + r.nextInt(255))).toByte
      val cut = // sometimes also truncate
        if (r.nextBoolean()) java.util.Arrays.copyOf(mutated, 1 + r.nextInt(mutated.length))
        else mutated
      for ((name, f) <- decoders) {
        try f(cut)
        catch {
          case e: Throwable =>
            fail(s"$name threw ${e.getClass.getSimpleName} on blob $bi " +
              s"trial $trial: ${e.getMessage}")
        }
      }
    }
  }
}
