package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.util.Random
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import scala.collection.parallel.CollectionConverters._
import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}
import org.tukaani.xz.{LZMA2Options, XZInputStream, XZOutputStream}
import net.jpountz.lz4.{LZ4FrameInputStream, LZ4FrameOutputStream}
import com.github.luben.zstd.{ZstdInputStream, Zstd => ZstdLib}
import graft.operators.{Bzip2, Containers, Lz4, Xz, Zstd}

/** Seeded WARC blob corpus for `catalog_mix`: WARC payloads compressed
  * with the libraries on the classpath, a planted share truncated.
  * `.Z` is left out because no independent encoder is on the classpath.
  */
object Blobs {
  val Codecs: Seq[String] = Seq("zstd", "bzip2", "xz", "lz4", "gzip")

  /** Single-core decode MB/s of each codec in the program, as a traced
    * run measured them on 4 cores; used only to spread decode work evenly
    * over the corpus files.
    */
  private val decodeMbPerS =
    Map("zstd" -> 55.0, "bzip2" -> 15.0, "xz" -> 24.0, "lz4" -> 174.0, "gzip" -> 122.0)

  final case class Blob(id: Long, codec: String, plain: Array[Byte],
      packed: Array[Byte], truncated: Boolean) {
    def cost: Double = plain.length / decodeMbPerS(codec)
  }

  private val Vocab: Array[String] = {
    val r = new Random(7L)
    Array.fill(4000) {
      val n = 2 + r.nextInt(9)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }
  }

  /** Zipf-like word pick: low ranks are common, as in web text. */
  private def word(r: Random): String = {
    val u = r.nextDouble()
    Vocab((u * u * u * Vocab.length).toInt)
  }

  private def html(r: Random, bytes: Int): Array[Byte] = {
    val b = new StringBuilder(bytes + 256)
    b ++= "<!doctype html><html><head><title>"
    (0 until 6).foreach(_ => b ++= word(r) += ' ')
    b ++= "</title></head><body>\n"
    while (b.length < bytes) {
      b ++= "<p>"
      val n = 20 + r.nextInt(80)
      (0 until n).foreach { i =>
        b ++= word(r)
        if (i % 17 == 16) b ++= s" ${r.nextInt(100000)}"
        b += ' '
      }
      b ++= "</p>\n"
    }
    b ++= "</body></html>\n"
    b.toString.getBytes("UTF-8")
  }

  /** WARC response records totalling at least `bytes`, one array each. */
  def warcRecords(r: Random, bytes: Int, blobId: Long): Seq[Array[Byte]] = {
    val recs = Seq.newBuilder[Array[Byte]]
    var total = 0
    var k = 0
    while (total < bytes) {
      val body = html(r, math.min(bytes - total, 4000 + r.nextInt(60000)))
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
      val head = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        f"WARC-Record-ID: <urn:uuid:${r.nextLong()}%016x-$blobId%08x-$k%08x>\r\n" +
        f"WARC-Date: 2024-0${1 + r.nextInt(9)}-1${r.nextInt(10)}T0${r.nextInt(10)}:1${r.nextInt(10)}:00Z\r\n" +
        s"WARC-Target-URI: https://site${r.nextInt(5000)}.example/${word(r)}/${word(r)}.html\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes("US-ASCII")
      val rec = head ++ http ++ "\r\n\r\n".getBytes("US-ASCII")
      recs += rec
      total += rec.length
      k += 1
    }
    recs.result()
  }

  def concat(parts: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(parts.map(_.length).sum)
    parts.foreach(p => bos.write(p))
    bos.toByteArray
  }

  private def write(wrap: OutputStream => OutputStream, plain: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(plain.length / 2 + 64)
    val out = wrap(bos)
    out.write(plain)
    out.close()
    bos.toByteArray
  }

  /** Compress with the classpath library; gzip writes one member per record,
    * the shape of a real `.warc.gz`.
    */
  def pack(codec: String, records: Seq[Array[Byte]]): Array[Byte] = {
    lazy val plain = concat(records)
    codec match {
      case "zstd" => ZstdLib.compress(plain, 3)
      case "bzip2" => write(new BZip2CompressorOutputStream(_, 9), plain)
      case "xz" => write(new XZOutputStream(_, new LZMA2Options(1)), plain)
      case "lz4" => write(new LZ4FrameOutputStream(_), plain)
      case "gzip" => concat(records.map(r => write(new GZIPOutputStream(_), r)))
    }
  }

  /** The corpus: per codec `perCodec` blobs whose plain sizes are drawn
    * log-uniform over 32 KiB to 2 MiB and then scaled so each codec holds
    * `mbPerCodec` MB; `truncatedPerCodec` of them are cut at 30 to 70%.
    */
  def corpus(seed: Long, perCodec: Int, mbPerCodec: Double,
      truncatedPerCodec: Int): Seq[Blob] = {
    val rng = new Random(seed)
    val plan = Codecs.zipWithIndex.flatMap { case (codec, ci) =>
      val raw = Seq.fill(perCodec)(math.exp(math.log(32 * 1024.0) +
        rng.nextDouble() * (math.log(2 * 1024 * 1024.0) - math.log(32 * 1024.0))))
      val scale = mbPerCodec * 1024 * 1024 / raw.sum
      val cut = rng.ints(0, perCodec).distinct().limit(truncatedPerCodec).toArray.toSet
      raw.zipWithIndex.map { case (sz, i) =>
        (ci * perCodec + i, codec, math.max(4096, (sz * scale).toInt),
          if (cut(i)) 0.3 + 0.4 * rng.nextDouble() else 1.0, rng.nextLong())
      }
    }
    plan.par.map { case (id, codec, size, keep, s) =>
      val recs = warcRecords(new Random(s), size, id)
      val packed = pack(codec, recs)
      val out = if (keep < 1.0) java.util.Arrays.copyOf(packed, (packed.length * keep).toInt) else packed
      Blob(id, codec, concat(recs), out, keep < 1.0)
    }.seq.sortBy(_.id)
  }

  /** Longest-processing-time split of the corpus into `n` files of about
    * equal decode work.
    */
  def balance(blobs: Seq[Blob], n: Int): Seq[Seq[Blob]] = {
    val bins = Array.fill(n)(Vector.empty[Blob])
    val load = Array.fill(n)(0.0)
    blobs.sortBy(b => (-b.cost, b.id)).foreach { b =>
      val i = load.indices.minBy(load(_))
      bins(i) :+= b
      load(i) += b.cost
    }
    bins.toSeq.filter(_.nonEmpty)
  }

  /** Decode with the program's from-scratch codec; null when it rejects. */
  def graftDecode(codec: String, b: Array[Byte]): Array[Byte] = codec match {
    case "zstd" => Zstd.decodeResult(b) match { case Zstd.Ok(p) => p; case _ => null }
    case "bzip2" => Bzip2.decodeResult(b) match { case Bzip2.Ok(p) => p; case _ => null }
    case "xz" => Xz.decode(b)
    case "lz4" => Lz4.decode(b)
    case "gzip" => Option(Containers.crawlMembers(b)).map(_.plain).orNull
  }

  /** Decode with the classpath library that wrote the blob. */
  def libDecode(codec: String, b: Array[Byte]): Array[Byte] = {
    val in = new ByteArrayInputStream(b)
    val s: InputStream = codec match {
      case "zstd" => new ZstdInputStream(in)
      case "bzip2" => new BZip2CompressorInputStream(in, true)
      case "xz" => new XZInputStream(in)
      case "lz4" => new LZ4FrameInputStream(in)
      case "gzip" => new GZIPInputStream(in)
    }
    try s.readAllBytes() finally s.close()
  }
}
