package graft.operators

/** From-scratch git PACKFILE reader — how code-training corpora
  * actually arrive (bare repository dumps). Reads the documented v2
  * format (git's pack-format spec): `PACK` + version + object count,
  * per-object type/size varint headers, zlib-compressed payloads,
  * OFS_DELTA (the +1-per-byte negative-offset encoding) and
  * REF_DELTA bases with full delta application (copy/insert ops),
  * and the whole-file SHA-1 trailer VERIFIED. Object ids are
  * recomputed (`"<type> <size>\0" + body` SHA-1), which is what
  * makes REF_DELTA resolution and the git cross-pin possible.
  *
  * Commits and trees parse into provenance: tree entries
  * (mode, name, id) and commit tree/parent/author lines. Pinned
  * BOTH directions against git itself (live: `git gc` packs read
  * here; [[synthPack]] output passes `git index-pack`). Null on
  * damage.
  */
object GitPack {

  final case class GitObject(tpe: String, sha: String, data: Array[Byte])
  final case class TreeEntry(mode: String, name: String, sha: String)

  private val TypeNames = Map(1 -> "commit", 2 -> "tree", 3 -> "blob",
    4 -> "tag")

  private def sha1Hex(prefix: Array[Byte], body: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(prefix)
    md.update(body)
    md.digest().map(b => f"${b & 0xFF}%02x").mkString
  }

  private def objectSha(tpe: String, body: Array[Byte]): String =
    sha1Hex(s"$tpe ${body.length}".getBytes(
      java.nio.charset.StandardCharsets.US_ASCII) :+ 0.toByte, body)

  /** Apply one git delta to its base; null on damage. */
  private[graft] def applyDelta(base: Array[Byte],
      delta: Array[Byte]): Array[Byte] = {
    var p = 0
    def varintLE(): Long = {
      var v = 0L
      var shift = 0
      while (true) {
        if (p >= delta.length || shift > 35) return -1L
        val c = delta(p) & 0xFF
        p += 1
        v |= (c & 0x7FL) << shift
        shift += 7
        if ((c & 0x80) == 0) return v
      }
      -1L
    }
    val srcSize = varintLE()
    val dstSize = varintLE()
    if (srcSize != base.length || dstSize < 0 ||
        dstSize > (1L << 28)) return null
    val out = new Array[Byte](dstSize.toInt)
    var o = 0
    while (p < delta.length) {
      val op = delta(p) & 0xFF
      p += 1
      if ((op & 0x80) != 0) { // copy from base
        var off = 0
        var size = 0
        for (k <- 0 until 4 if (op & (1 << k)) != 0) {
          if (p >= delta.length) return null
          off |= (delta(p) & 0xFF) << (8 * k)
          p += 1
        }
        for (k <- 0 until 3 if (op & (16 << k)) != 0) {
          if (p >= delta.length) return null
          size |= (delta(p) & 0xFF) << (8 * k)
          p += 1
        }
        if (size == 0) size = 0x10000
        if (off < 0 || size < 0 || off.toLong + size > base.length ||
            o + size > out.length) return null
        System.arraycopy(base, off, out, o, size)
        o += size
      } else { // insert literal
        if (op == 0) return null // reserved
        if (p + op > delta.length || o + op > out.length) return null
        System.arraycopy(delta, p, out, o, op)
        p += op
        o += op
      }
    }
    if (o != out.length) return null
    out
  }

  /** Every object in the pack (deltas resolved), or null. The SHA-1
    * trailer is verified FIRST — a pack that fails its own digest is
    * quarantined before any parsing.
    */
  def objects(b: Array[Byte]): Array[GitObject] = try {
    if (b == null || b.length < 32) return null
    if (!(b(0) == 'P' && b(1) == 'A' && b(2) == 'C' && b(3) == 'K'))
      return null
    val version = ((b(4) & 0xFF) << 24) | ((b(5) & 0xFF) << 16) |
      ((b(6) & 0xFF) << 8) | (b(7) & 0xFF)
    if (version != 2 && version != 3) return null
    val count = ((b(8) & 0xFFL) << 24) | ((b(9) & 0xFFL) << 16) |
      ((b(10) & 0xFFL) << 8) | (b(11) & 0xFFL)
    if (count > 1000000) return null
    // trailer: SHA-1 of everything before it
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(b, 0, b.length - 20)
    val want = md.digest()
    for (k <- 0 until 20)
      if (want(k) != b(b.length - 20 + k)) return null
    val byOffset = scala.collection.mutable.LongMap.empty[GitObject]
    val bySha = scala.collection.mutable.HashMap.empty[String, GitObject]
    val out = scala.collection.mutable.ArrayBuffer.empty[GitObject]
    var p = 12
    var i = 0L
    while (i < count) {
      val objOff = p
      // type/size varint: first byte carries type bits 6-4
      var c = b(p) & 0xFF
      p += 1
      val tpe = (c >> 4) & 7
      var size = (c & 15).toLong
      var shift = 4
      while ((c & 0x80) != 0) {
        if (p >= b.length || shift > 60) return null
        c = b(p) & 0xFF
        p += 1
        size |= (c & 0x7FL) << shift
        shift += 7
      }
      if (size < 0 || size > (1L << 28)) return null
      var baseObj: GitObject = null
      if (tpe == 6) { // OFS_DELTA: negative offset, +1-per-byte coding
        c = b(p) & 0xFF
        p += 1
        var off = (c & 0x7FL)
        while ((c & 0x80) != 0) {
          if (p >= b.length) return null
          c = b(p) & 0xFF
          p += 1
          off = ((off + 1) << 7) | (c & 0x7FL)
        }
        baseObj = byOffset.getOrElse(objOff - off, null)
        if (baseObj == null) return null
      } else if (tpe == 7) { // REF_DELTA: 20-byte base id
        if (p + 20 > b.length) return null
        val sha = (0 until 20).map(k => f"${b(p + k) & 0xFF}%02x").mkString
        p += 20
        baseObj = bySha.getOrElse(sha, null)
        if (baseObj == null) return null // thin packs: out of profile
      } else if (!TypeNames.contains(tpe)) return null
      // zlib stream, self-terminating: the next object starts where it ends
      val z = Capped.inflate(b, p, b.length - 20 - p, size, size, raw = false)
      if (z == null || z.bytes.length != size) return null
      p += z.consumed
      val body = z.bytes
      val obj =
        if (baseObj == null) {
          val t = TypeNames(tpe)
          GitObject(t, objectSha(t, body), body)
        } else {
          val resolved = applyDelta(baseObj.data, body)
          if (resolved == null) return null
          GitObject(baseObj.tpe, objectSha(baseObj.tpe, resolved), resolved)
        }
      byOffset(objOff) = obj
      bySha(obj.sha) = obj
      out += obj
      i += 1
    }
    if (p != b.length - 20) return null // trailing garbage
    out.toArray
  } catch {
    case _: IndexOutOfBoundsException => null
  }

  /** Parse a tree object's entries: `<mode> <name>\0<20-byte id>`. */
  def treeEntries(body: Array[Byte]): Array[TreeEntry] = try {
    val out = scala.collection.mutable.ArrayBuffer.empty[TreeEntry]
    var p = 0
    while (p < body.length) {
      val sp = {
        var q = p
        while (q < body.length && body(q) != ' ') q += 1
        q
      }
      if (sp >= body.length) return null
      val mode = new String(body, p, sp - p,
        java.nio.charset.StandardCharsets.US_ASCII)
      var nul = sp + 1
      while (nul < body.length && body(nul) != 0) nul += 1
      if (nul + 21 > body.length) return null
      val name = new String(body, sp + 1, nul - sp - 1,
        java.nio.charset.StandardCharsets.UTF_8)
      val sha = (1 to 20).map(k => f"${body(nul + k) & 0xFF}%02x").mkString
      out += TreeEntry(mode, name, sha)
      p = nul + 21
    }
    out.toArray
  } catch { case _: IndexOutOfBoundsException => null }

  /** A commit's (tree, parents, author line). */
  def commitInfo(body: Array[Byte]): (String, Array[String], String) = {
    val text = new String(body, java.nio.charset.StandardCharsets.UTF_8)
    var tree: String = null
    val parents = scala.collection.mutable.ArrayBuffer.empty[String]
    var author: String = null
    for (line <- text.split("\n", -1)) {
      if (line.startsWith("tree ")) tree = line.substring(5)
      else if (line.startsWith("parent ")) parents += line.substring(7)
      else if (line.startsWith("author ")) author = line.substring(7)
      else if (line.isEmpty) {
        if (tree == null) return null
        return (tree, parents.toArray, if (author == null) "" else author)
      }
    }
    null
  }

  // ---- write side ------------------------------------------------------

  /** A real v2 pack from (type, body) objects, optionally delta-ing
    * an object against the PREVIOUS one via OFS_DELTA (exercising the
    * resolver); zlib-compressed, SHA-1 trailer appended.
    */
  def synthPack(objs: Seq[(String, Array[Byte])],
      deltaAgainstPrev: Set[Int] = Set.empty): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    out.write('P'); out.write('A'); out.write('C'); out.write('K')
    w32(2); w32(objs.length.toLong)
    val typeCode = Map("commit" -> 1, "tree" -> 2, "blob" -> 3, "tag" -> 4)
    var prevOff = -1L
    var prevBody: Array[Byte] = null
    for (((tpe, body), idx) <- objs.zipWithIndex) {
      val objOff = out.size().toLong
      val useDelta = deltaAgainstPrev.contains(idx) && prevBody != null
      val (code, payload) =
        if (!useDelta) (typeCode(tpe), body)
        else {
          // a trivial delta: copy nothing, insert everything (legal,
          // and it exercises the resolver + insert op)
          val d = new java.io.ByteArrayOutputStream()
          def varintLE(v0: Long): Unit = {
            var v = v0
            do {
              val g = (v & 0x7F).toInt
              v >>>= 7
              d.write(if (v != 0) g | 0x80 else g)
            } while (v != 0)
          }
          varintLE(prevBody.length.toLong)
          varintLE(body.length.toLong)
          var q = 0
          while (q < body.length) {
            val n = math.min(127, body.length - q)
            d.write(n)
            d.write(body, q, n)
            q += n
          }
          (6, d.toByteArray)
        }
      // type/size header varint
      var size = payload.length.toLong
      var first = ((code << 4) | (size & 15)).toInt
      size >>= 4
      if (size != 0) first |= 0x80
      out.write(first)
      while (size != 0) {
        var g = (size & 0x7F).toInt
        size >>= 7
        if (size != 0) g |= 0x80
        out.write(g)
      }
      if (useDelta) { // OFS_DELTA negative offset, +1-per-byte coding
        var off = objOff - prevOff
        val groups = scala.collection.mutable.ArrayBuffer.empty[Int]
        groups += (off & 0x7F).toInt
        off >>= 7
        while (off != 0) {
          off -= 1
          groups += (off & 0x7F).toInt
          off >>= 7
        }
        for (k <- groups.indices.reverse)
          out.write(if (k == 0) groups(k) else groups(k) | 0x80)
      }
      val defl = new java.util.zip.Deflater()
      try {
        defl.setInput(payload)
        defl.finish()
        val tmp = new Array[Byte](8192)
        while (!defl.finished()) out.write(tmp, 0, defl.deflate(tmp))
      } finally defl.end()
      prevOff = objOff
      prevBody = body
    }
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val sofar = out.toByteArray
    md.update(sofar)
    out.write(md.digest(), 0, 20)
    out.toByteArray
  }

  /** A tree body from entries (hex ids re-packed to raw bytes). */
  def synthTree(entries: Seq[(String, String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (mode, name, shaHex) =>
      out.write(s"$mode $name".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      out.write(0)
      shaHex.grouped(2).foreach(h => out.write(Integer.parseInt(h, 16)))
    }
    out.toByteArray
  }

  /** A commit body in git's canonical layout. */
  def synthCommit(tree: String, parents: Seq[String], author: String,
      message: String): Array[Byte] = {
    val sb = new StringBuilder
    sb ++= s"tree $tree\n"
    parents.foreach(pr => sb ++= s"parent $pr\n")
    sb ++= s"author $author\ncommitter $author\n\n$message\n"
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }
}
