package graft.operators

import java.io.{IOException, InputStream}
import java.util.zip.{DataFormatException, Inflater}

/** The decompression-bomb cap every codec decoder here runs under:
  * the zstd ([[Zstd]]), bzip2 ([[Bzip2]]), xz/lzma ([[Xz]]) and lz4
  * ([[Lz4]]) adapters over their classpath libraries, and deflate —
  * zlib or raw — over the JDK `Inflater` through [[inflate]], for
  * gzip members (`.warc.gz`, Parquet GZIP pages), PNG IDAT, TIFF
  * strips, PDF FlateDecode, ORC and Avro deflate, Zip method 8, the
  * 7z deflate coder and git pack objects. Output is counted while it
  * is produced, across every concatenated stream or frame of one
  * blob, so a bomb stops at `cap` bytes instead of after the fact.
  */
private[graft] object Capped {

  /** Output past the cap — an IOException, so it degrades like damage. */
  final class Exceeded extends IOException("decompression bomb")

  private val MaxArray = Int.MaxValue - 16L

  /** Growable output that never holds more than `cap` bytes. */
  final class Sink(cap: Long, sizeHint: Long) {
    // one slot past the cap: a read that fills it reveals the bomb
    private val limit = math.min(cap + 1, MaxArray)
    var buf = new Array[Byte](math.min(math.max(sizeHint, 4096L), limit).toInt)
    var len = 0

    private def grow(need: Long): Unit = {
      if (need > limit) throw new Exceeded
      buf = java.util.Arrays.copyOf(buf,
        math.min(math.max(buf.length * 2L, need), limit).toInt)
    }

    /** Room for `n` more bytes at `buf(len)`; [[Exceeded]] past the cap. */
    def reserve(n: Long): Unit = {
      if (len + n > cap) throw new Exceeded
      if (len + n > buf.length) grow(len + n)
    }

    /** Read `in` to its end, checking the cap after every read. */
    def readAll(in: InputStream): Unit = {
      var n = 0
      while (n >= 0) {
        if (len == buf.length) grow(len + 1L)
        n = in.read(buf, len, buf.length - len)
        if (n > 0) {
          len += n
          if (len > cap) throw new Exceeded
        }
      }
    }

    def result: Array[Byte] =
      if (len == buf.length) buf else java.util.Arrays.copyOf(buf, len)
  }

  /** All of `in` (closed afterwards) under `cap`. */
  def readAll(in: InputStream, cap: Long, sizeHint: Long): Array[Byte] =
    try {
      val out = new Sink(cap, sizeHint)
      out.readAll(in)
      out.result
    } finally in.close()

  /** One deflate stream's output, and the input it took up to its end. */
  final case class Inflated(bytes: Array[Byte], consumed: Int)

  /** Inflate the one deflate stream at `b(off until off + len)` to its
    * end through `inf`, which is `reset()` first, so a caller with many
    * members keeps one native context per blob. The stream must end:
    * the result is null when it is malformed, when it is truncated
    * (the inflater starves before the final block and its check
    * value), when its zlib header asks for a preset dictionary (FDICT:
    * no caller has one, and the inflater would make no progress
    * forever), or when it inflates past `cap` bytes. A stream stopped
    * at an expected size, or read up to a dictionary request, would
    * pass part of a stream off as all of it. Bytes after the end are
    * the caller's to judge: `consumed` counts the input up to the end,
    * the zlib Adler-32 included. Never throws.
    */
  def inflate(inf: Inflater, b: Array[Byte], off: Int, len: Int,
      cap: Long, sizeHint: Long): Inflated = {
    if (off < 0 || len < 0 || off > b.length - len || cap < 0) return null
    try {
      inf.reset()
      inf.setInput(b, off, len)
      val out = new Sink(cap, sizeHint)
      // a full buffer reads into `probe`: the stream may still end with
      // no more output (an empty final block, or the 2-byte stream the
      // JDK writes for an empty Zip entry), so it grows only for a byte
      val probe = new Array[Byte](1)
      while (!inf.finished()) {
        val room = out.buf.length - out.len
        val n =
          if (room > 0) inf.inflate(out.buf, out.len, room)
          else inf.inflate(probe)
        if (n == 0) {
          if (!inf.finished()) return null // starved, or FDICT
        } else if (room > 0) {
          out.len += n
          if (out.len > cap) return null
        } else {
          out.reserve(1)
          out.buf(out.len) = probe(0)
          out.len += 1
        }
      }
      Inflated(out.result, len - inf.getRemaining)
    } catch {
      case _: DataFormatException | _: Exceeded => null
    }
  }

  /** [[inflate]] through its own Inflater: raw deflate when `raw`, else
    * zlib-wrapped.
    */
  def inflate(b: Array[Byte], off: Int, len: Int, cap: Long, sizeHint: Long,
      raw: Boolean): Inflated =
    withInflater(raw)(inflate(_, b, off, len, cap, sizeHint))

  /** `f` over one Inflater (raw deflate when `raw`), `end()`ed on every
    * path: its native context must not wait for GC.
    */
  def withInflater[T](raw: Boolean)(f: Inflater => T): T = {
    val inf = new Inflater(raw)
    try f(inf) finally inf.end()
  }
}
