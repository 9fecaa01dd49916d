package graft.operators

import java.io.{IOException, InputStream}

/** The decompression-bomb cap the codec adapters ([[Zstd]], [[Bzip2]],
  * [[Xz]], [[Lz4]]) put around their classpath libraries: output is
  * counted while it is read, across every concatenated stream or frame
  * of one blob, so a bomb stops at `cap` bytes instead of after the
  * fact.
  */
private[operators] object Capped {

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
}
