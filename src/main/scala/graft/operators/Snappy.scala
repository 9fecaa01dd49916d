package graft.operators

import scala.util.control.NonFatal

/** Raw Snappy (the google/snappy format: varint uncompressed length,
  * then literal and copy elements), the stream Avro's "snappy" codec
  * and Parquet pages carry. [[decode]] is an adapter over snappy-java
  * that checks the declared length against the cap before the library
  * allocates; [[encode]] is the fixture writer. Degrade-don't-throw:
  * null on damage.
  */
object Snappy {

  /** Decode a raw stream; null on damage, `cap` bounds expansion. */
  def decode(b: Array[Byte], cap: Long = 1L << 30): Array[Byte] =
    if (b == null || b.isEmpty) null
    else try {
      val n = org.xerial.snappy.Snappy.uncompressedLength(b)
      if (n < 0 || n > cap) null else org.xerial.snappy.Snappy.uncompress(b)
    } catch { case NonFatal(_) => null } // IOException, SnappyError

  /** Encode raw Snappy: greedy matches through the shared matcher,
    * emitted as 2-byte-offset copies (64-byte elements), literals
    * batched between them.
    */
  def encode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    // varint length
    var v = data.length.toLong
    do {
      val g = (v & 0x7F).toInt
      v >>>= 7
      out.write(if (v != 0) g | 0x80 else g)
    } while (v != 0)
    val lit = new java.io.ByteArrayOutputStream(64)
    def flushLit(): Unit = {
      if (lit.size() == 0) return
      val l = lit.toByteArray
      var q = 0
      while (q < l.length) {
        val n = math.min(l.length - q, 60) // 6-bit form only
        out.write((n - 1) << 2)
        out.write(l, q, n)
        q += n
      }
      lit.reset()
    }
    LzGreedy.compress(data, 65535, 4, 1 << 20)(lit.write) { (len, dist) =>
      flushLit()
      var remaining = len
      while (remaining > 0) {
        // a copy element carries 4..64 bytes; keep the tail >= 4
        val take =
          if (remaining > 64) math.min(64, remaining - 4) else remaining
        out.write(((take - 1) << 2) | 2)
        out.write(dist & 0xFF)
        out.write((dist >> 8) & 0xFF)
        remaining -= take
      }
    }
    flushLit()
    out.toByteArray
  }
}
