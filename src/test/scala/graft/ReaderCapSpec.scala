package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ArrowIpc, Avro, Parquet, Snappy}

/** Bomb caps on the library-backed blob readers: each input declares a
  * size past a cap, and must come back as null or "corrupt" without the
  * library allocating what it declares. Every case catches Throwable,
  * so an OutOfMemoryError fails it instead of the JVM.
  */
class ReaderCapSpec extends AnyFunSuite {

  private def degrades(what: String)(f: => Any): Unit =
    try assert(f == null || f == "corrupt", what)
    catch { case e: Throwable => fail(s"$what threw $e") }

  /** parquet-mr output through an in-memory OutputFile. */
  private def parquet(rows: Int, value: Int => Array[Byte],
      codec: org.apache.parquet.hadoop.metadata.CompressionCodecName): Array[Byte] = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    val bos = new java.io.ByteArrayOutputStream()
    val out = new org.apache.parquet.io.OutputFile {
      private def stream() = new org.apache.parquet.io.PositionOutputStream {
        private var pos = 0L
        override def getPos: Long = pos
        override def write(b: Int): Unit = { bos.write(b); pos += 1 }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          bos.write(b, off, len); pos += len
        }
      }
      override def create(hint: Long) = stream()
      override def createOrOverwrite(hint: Long) = stream()
      override def supportsBlockSize(): Boolean = false
      override def defaultBlockSize(): Long = 0L
    }
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required binary v; }")
    val w = ExampleParquetWriter.builder(out).withType(schema)
      .withCompressionCodec(codec).withDictionaryEncoding(false)
      .withConf(new org.apache.hadoop.conf.Configuration()).build()
    val gf = new SimpleGroupFactory(schema)
    try (0 until rows).foreach(i =>
      w.write(gf.newGroup().append("v", Binary.fromConstantByteArray(value(i)))))
    finally w.close()
    bos.toByteArray
  }

  private def footer(b: Array[Byte]): org.apache.parquet.format.FileMetaData = {
    val len = java.nio.ByteBuffer.wrap(b, b.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    org.apache.parquet.format.Util.readFileMetaData(
      new java.io.ByteArrayInputStream(b, b.length - 8 - len, len))
  }

  test("parquet: a page header declaring more than 1<<26 bytes") {
    // one 1.5 MiB value: the page's uncompressed size is a 4-byte
    // varint, so a forged 1<<26 + 8 fits in place
    val b = parquet(1, _ => Array.fill(3 << 19)(7.toByte),
      org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
    assert(Parquet.read(b) != null)
    val at = footer(b).getRow_groups.get(0).getColumns.get(0)
      .getMeta_data.getData_page_offset.toInt
    val header = org.apache.parquet.format.Util.readPageHeader(
      new java.io.ByteArrayInputStream(b, at, b.length - at))
    def varint(v: Int) = Array.tabulate(4)(k =>
      (((v >>> (7 * k)) & 0x7F) | (if (k < 3) 0x80 else 0)).toByte)
    val declared = varint(header.getUncompressed_page_size * 2) // zigzag
    val p = b.indexOfSlice(declared.toSeq, at)
    assert(p > at && p < at + 8)
    System.arraycopy(varint(((1 << 26) + 8) * 2), 0, b, p, 4)
    assert(org.apache.parquet.format.Util.readPageHeader(
      new java.io.ByteArrayInputStream(b, at, b.length - at))
      .getUncompressed_page_size == (1 << 26) + 8)
    degrades("read")(Parquet.read(b))
    degrades("decodeClass")(Parquet.decodeClass(b))
  }

  test("parquet: a footer column chunk reaching past the end of the blob") {
    val b = parquet(200, i => Array.fill(i % 17)(i.toByte),
      org.apache.parquet.hadoop.metadata.CompressionCodecName.UNCOMPRESSED)
    val meta = footer(b)
    meta.getRow_groups.get(0).getColumns.get(0).getMeta_data
      .setTotal_compressed_size(1L << 31)
    val fbos = new java.io.ByteArrayOutputStream()
    org.apache.parquet.format.Util.writeFileMetaData(meta, fbos)
    val oldLen = java.nio.ByteBuffer.wrap(b, b.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val forged = java.util.Arrays.copyOf(b, b.length - 8 - oldLen) ++
      fbos.toByteArray ++ java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(fbos.size).array ++
      "PAR1".getBytes("US-ASCII")
    degrades("read")(Parquet.read(forged))
    degrades("decodeClass")(Parquet.decodeClass(forged))
  }

  test("arrow: a buffer length beyond the message body") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, FieldVector, VectorSchemaRoot}
    val alloc = new RootAllocator()
    val b = try {
      val v = new BigIntVector("v", alloc)
      val root = new VectorSchemaRoot(java.util.List.of[FieldVector](v))
      try {
        root.allocateNew()
        (0 until 37).foreach(i => v.setSafe(i, i * 3L))
        root.setRowCount(37)
        val bos = new java.io.ByteArrayOutputStream()
        val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null,
          java.nio.channels.Channels.newChannel(bos))
        w.start(); w.writeBatch(); w.end(); w.close()
        bos.toByteArray
      } finally root.close()
    } finally alloc.close()
    assert(ArrowIpc.read(b) != null)
    // the data buffer's Buffer struct: length 37 * 8 = 296, little-endian
    def le(v: Long) = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array.toSeq
    val p = b.indexOfSlice(le(296))
    assert(p > 0 && b.indexOfSlice(le(296), p + 1) < 0)
    System.arraycopy(le(1L << 30).toArray, 0, b, p, 8)
    degrades("read")(ArrowIpc.read(b))
    degrades("decodeClass")(ArrowIpc.decodeClass(b))
  }

  test("avro: a deflate block that expands past the cap") {
    // 65 MiB of zeros in one row: its block inflates past 1<<26 bytes
    val b = Avro.synthAvro(Seq("v"), Seq("bytes"),
      Seq(Seq[Any](new Array[Byte](65 << 20))), "deflate")
    assert(b.length < (1 << 20))
    degrades("read")(Avro.read(b))
    assert(!Avro.unsupportedProfile(b))
  }

  test("snappy: a stream declaring more than the cap") {
    val enc = Snappy.encode(Array.fill(5000)(3.toByte))
    assert(Snappy.decode(enc, cap = 5000) != null)
    degrades("cap")(Snappy.decode(enc, cap = 4999))
    // a bare varint header declaring 1 TiB
    degrades("header")(Snappy.decode(Array[Byte](0x80.toByte, 0x80.toByte,
      0x80.toByte, 0x80.toByte, 0x80.toByte, 0x20, 0)))
  }
}
