package graft.operators

import java.nio.charset.StandardCharsets.ISO_8859_1

/** From-scratch PDF text extraction — the single most common document
  * format in crawled corpora. Implements the documented file structure
  * (PDF 32000-1:2008): COS object syntax (§7.3), classic cross-reference
  * tables and trailers (§7.5.4-5), cross-reference STREAMS (§7.5.8,
  * PNG-predicted), object streams (§7.5.7), incremental updates via the
  * /Prev chain (§7.5.6), stream filters (§7.4: FlateDecode, LZWDecode
  * with EarlyChange, ASCIIHexDecode, ASCII85Decode, RunLengthDecode,
  * plus TIFF/PNG predictors), the page tree with attribute inheritance
  * (§7.7.3), and the text-showing content operators (§9.4.3: Tj TJ ' ")
  * with byte→character decoding through /WinAnsiEncoding, /Differences
  * arrays, and /ToUnicode CMaps (§9.10).
  *
  * Text assembly model (documented, deterministic): text-showing
  * operators append their decoded string in content order; `T*`, `'`,
  * `"`, and `Td`/`TD` with a non-zero ty append a newline first;
  * numbers inside TJ arrays (kerning) are ignored. Coordinate-driven
  * layout breaks lines too: a `Tm` whose placed y differs from the
  * tracked text y (Td/TD shifts track; T* clears — leading is not
  * modeled) starts a new line when text was shown since the last
  * break, so generators that position every line with an absolute
  * text matrix and no line operators extract with their line
  * structure. Remaining simplification: fragments are emitted in
  * CONTENT order, not sorted by x/y — multi-column or out-of-order
  * emission concatenates as written, a documented simplification,
  * not damage.
  *
  * Encryption (§7.6): the standard security handler with the EMPTY
  * user password — the common world-readable wild case — decrypts for
  * real: RC4 V1/R2 and V2/R3, AESV2 V4/R4 (AES-128-CBC via the JDK
  * cipher, like Inflater for flate), and AES-256 V5/R5-R6 (the
  * Algorithm 2.B iterated SHA-256/384/512 KDF, /UE file-key unwrap,
  * no per-object keys), per-object keys for V1-4, /U-verified
  * before arming.
  *
  * Named profile gaps (degrade to named classes, never throw):
  * password-REQUIRED documents and out-of-subset crypto (non-Standard handlers,
  * non-Standard handlers, split StmF/StrF routing — `encrypted`),
  * image compression
  * filters in content position (DCT/JPX/JBIG2/CCITT — skipped as
  * non-text), /MacRomanEncoding's non-ASCII upper half (ASCII range
  * decodes; the 128-entry Mac glyph table is out of subset),
  * coordinate-only layout (above). Damaged cross-reference tables fall
  * back to a whole-file object scan (`recovered_xref`), the classic
  * repair strategy.
  *
  * No PDF implementation exists in this container, so the pin posture
  * is the established Vp8 one: a deterministic synthetic writer
  * ([[synthPdf]]) covering six structural profiles, with the extraction
  * oracle-checked for PROFILE INDEPENDENCE (every profile of the same
  * text must extract identical text) and structural invariants +
  * damage/fuzz gates in the spec.
  *
  * Bomb caps: 1<<24 bytes per decoded stream, 65536 xref entries,
  * 8192 pages, recursion depth 32. Reference context: the reference
  * engine (etl-pack) has no document surface at all; this extends the
  * training-data frontier the way `Containers`/`Multimodal` do.
  */
object Pdf {

  private val MaxStream = 1 << 24
  private val MaxObjects = 65536
  private val MaxPages = 8192

  // ---- COS object model --------------------------------------------------

  sealed trait Obj
  final case class PNum(v: Double) extends Obj { def i: Int = v.toInt; def l: Long = v.toLong }
  final case class PStr(bytes: Array[Byte]) extends Obj
  final case class PName(s: String) extends Obj
  final case class PArr(items: Vector[Obj]) extends Obj
  final case class PDict(m: Map[String, Obj]) extends Obj
  final case class PRef(num: Int, gen: Int) extends Obj
  final case class PStream(dict: PDict, raw: Array[Byte]) extends Obj
  final case class PBool(b: Boolean) extends Obj
  case object PNull extends Obj
  /** Bare keyword (content-stream operator position only). */
  final case class POp(op: String) extends Obj

  private final class Damage(msg: String) extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Damage(msg)

  // ---- lexer ---------------------------------------------------------------

  private def isWs(c: Int): Boolean =
    c == 0 || c == 9 || c == 10 || c == 12 || c == 13 || c == 32
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Byte cursor with PDF whitespace/comment skipping. */
  private final class Lex(val b: Array[Byte], var p: Int) {
    def end: Boolean = p >= b.length
    def at(i: Int): Int = if (i < b.length && i >= 0) b(i) & 0xFF else -1
    def cur: Int = at(p)
    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (!end && isWs(cur)) p += 1
        if (!end && cur == '%') { while (!end && cur != '\n' && cur != '\r') p += 1 }
        else go = false
      }
    }
    /** Regular-character token (keyword/operator/number text). */
    def token(): String = {
      skipWs()
      val s = p
      while (!end && !isWs(cur) && !isDelim(cur)) p += 1
      if (p == s) fail("token")
      new String(b, s, p - s, ISO_8859_1)
    }
    def expect(kw: String): Unit =
      if (token() != kw) fail(s"expected $kw")
    def peekToken(): String = { val s = p; val t = try token() catch { case _: Damage => "" }; p = s; t }
  }

  /** Parse one object at the cursor. `refs`: resolve "n g R" lookahead
    * (object position); content streams pass false (R is not an op there,
    * and bare keywords must surface as POp).
    */
  private def parseObject(lx: Lex, depth: Int, refs: Boolean): Obj = {
    if (depth > 32) fail("depth")
    lx.skipWs()
    if (lx.end) fail("eof")
    lx.cur match {
      case '<' if lx.at(lx.p + 1) == '<' =>
        lx.p += 2
        var m = Map.empty[String, Obj]
        var go = true
        while (go) {
          lx.skipWs()
          if (lx.cur == '>' && lx.at(lx.p + 1) == '>') { lx.p += 2; go = false }
          else {
            val k = parseObject(lx, depth + 1, refs) match {
              case PName(n) => n
              case _        => fail("dict key")
            }
            m += k -> parseObject(lx, depth + 1, refs)
          }
        }
        PDict(m)
      case '<' => // hex string
        lx.p += 1
        val out = new java.io.ByteArrayOutputStream()
        var hi = -1
        while (lx.cur != '>') {
          if (lx.end) fail("hex eof")
          val c = lx.cur
          val d = Character.digit(c, 16)
          if (d >= 0) { if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 } }
          else if (!isWs(c)) fail("hex char")
          lx.p += 1
        }
        lx.p += 1
        if (hi >= 0) out.write(hi << 4)
        PStr(out.toByteArray)
      case '(' => // literal string, nested parens, escapes
        lx.p += 1
        val out = new java.io.ByteArrayOutputStream()
        var nest = 1
        while (nest > 0) {
          if (lx.end) fail("str eof")
          val c = lx.cur; lx.p += 1
          c match {
            case '(' => nest += 1; out.write('(')
            case ')' => nest -= 1; if (nest > 0) out.write(')')
            case '\\' =>
              val e = lx.cur; lx.p += 1
              e match {
                case 'n' => out.write('\n'); case 'r' => out.write('\r')
                case 't' => out.write('\t'); case 'b' => out.write('\b')
                case 'f' => out.write('\f')
                case '(' => out.write('('); case ')' => out.write(')')
                case '\\' => out.write('\\')
                case '\r' => if (lx.cur == '\n') lx.p += 1 // continuation
                case '\n' => ()
                case d if d >= '0' && d <= '7' =>
                  var v = d - '0'; var k = 0
                  while (k < 2 && lx.cur >= '0' && lx.cur <= '7') {
                    v = (v << 3) | (lx.cur - '0'); lx.p += 1; k += 1
                  }
                  out.write(v & 0xFF)
                case other => out.write(other) // \x -> x
              }
            case '\r' => // raw EOL inside string reads as \n
              if (lx.cur == '\n') lx.p += 1
              out.write('\n')
            case other => out.write(other)
          }
        }
        PStr(out.toByteArray)
      case '[' =>
        lx.p += 1
        var items = Vector.empty[Obj]
        var go = true
        while (go) {
          lx.skipWs()
          if (lx.cur == ']') { lx.p += 1; go = false }
          else items :+= parseObject(lx, depth + 1, refs)
        }
        PArr(items)
      case '/' =>
        lx.p += 1
        val sb = new StringBuilder
        while (!lx.end && !isWs(lx.cur) && !isDelim(lx.cur)) {
          if (lx.cur == '#' && Character.digit(lx.at(lx.p + 1), 16) >= 0 &&
              Character.digit(lx.at(lx.p + 2), 16) >= 0) {
            sb.append(((Character.digit(lx.at(lx.p + 1), 16) << 4) |
              Character.digit(lx.at(lx.p + 2), 16)).toChar)
            lx.p += 3
          } else { sb.append(lx.cur.toChar); lx.p += 1 }
        }
        PName(sb.toString)
      case c if (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.' =>
        val s = lx.p
        lx.p += 1
        while (!lx.end && ((lx.cur >= '0' && lx.cur <= '9') || lx.cur == '.' ||
          lx.cur == '+' || lx.cur == '-')) lx.p += 1
        val txt = new String(lx.b, s, lx.p - s, ISO_8859_1)
        val n = try txt.toDouble catch { case _: NumberFormatException => fail("num") }
        // "n g R" indirect-reference lookahead (object position only)
        if (refs && n >= 0 && n == math.floor(n)) {
          val save = lx.p
          val ok = try {
            lx.skipWs()
            val g = lx.token()
            val gi = g.toInt
            lx.skipWs()
            if (gi >= 0 && lx.cur == 'R' &&
                (isWs(lx.at(lx.p + 1)) || isDelim(lx.at(lx.p + 1)) || lx.p + 1 >= lx.b.length)) {
              lx.p += 1
              Some(PRef(n.toInt, gi))
            } else None
          } catch { case _: RuntimeException => None }
          ok match {
            case Some(r) => return r
            case None    => lx.p = save
          }
        }
        PNum(n)
      case _ =>
        lx.token() match {
          case "true"  => PBool(true)
          case "false" => PBool(false)
          case "null"  => PNull
          case op if !refs => POp(op)
          case other       => fail(s"keyword $other")
        }
    }
  }

  // ---- filters ---------------------------------------------------------

  private def inflate(in: Array[Byte]): Array[Byte] = {
    val r = Capped.inflate(in, 0, in.length, MaxStream, in.length * 4L,
      raw = false)
    if (r == null) fail("flate") else r.bytes
  }

  /** PDF/TIFF LZW decode (§7.4.4): MSB-first codes starting at 9 bits,
    * clear 256, EOD 257; with EarlyChange (default 1) the width grows
    * one code early.
    */
  private[graft] def lzwDecode(in: Array[Byte], earlyChange: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length * 3)
    val dict = new Array[Array[Byte]](4096)
    var next = 258
    var width = 9
    def reset(): Unit = { next = 258; width = 9 }
    var acc = 0L; var nbits = 0; var p = 0
    var prev: Array[Byte] = null
    while (p < in.length || nbits >= width) {
      if (nbits < width) { acc = (acc << 8) | (in(p) & 0xFF); p += 1; nbits += 8 }
      else {
        val code = ((acc >> (nbits - width)) & ((1 << width) - 1)).toInt
        nbits -= width
        if (code == 257) return out.toByteArray // EOD
        if (code == 256) { reset(); prev = null }
        else {
          val entry: Array[Byte] =
            if (code < 256) Array(code.toByte)
            else if (code < next && dict(code) != null) dict(code)
            else if (code == next && prev != null) prev :+ prev(0) // KwKwK
            else fail("lzw code")
          out.write(entry, 0, entry.length)
          if (out.size > MaxStream) fail("lzw bomb")
          if (prev != null && next < 4096) { dict(next) = prev :+ entry(0); next += 1 }
          if (next + earlyChange >= (1 << width) && width < 12) width += 1
          prev = entry
        }
      }
    }
    out.toByteArray
  }

  /** Greedy LZW encoder, EarlyChange=1 — [[synthPdf]]'s content codec and
    * the decoder's round-trip pin.
    */
  private[graft] def lzwEncode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length)
    var acc = 0L; var nbits = 0
    var width = 9
    val dict = new java.util.HashMap[java.util.List[java.lang.Byte], Integer]()
    var next = 258
    def put(code: Int): Unit = {
      acc = (acc << width) | code; nbits += width
      while (nbits >= 8) { out.write(((acc >> (nbits - 8)) & 0xFF).toInt); nbits -= 8 }
    }
    def key(bytes: java.util.ArrayList[java.lang.Byte]): java.util.List[java.lang.Byte] =
      java.util.List.copyOf(bytes)
    put(256) // clear
    var cur = new java.util.ArrayList[java.lang.Byte]()
    var curCode = -1
    var i = 0
    while (i < in.length) {
      cur.add(in(i))
      val k = key(cur)
      val hit = if (cur.size == 1) Integer.valueOf(in(i) & 0xFF) else dict.get(k)
      if (hit != null) { curCode = hit.intValue() }
      else {
        put(curCode)
        if (next < 4096) { dict.put(k, next); next += 1 }
        // The encoder's table runs ONE entry ahead of the decoder's (the
        // decoder creates an entry only upon the NEXT code), so with
        // EarlyChange=1 the decoder grows at its next+1 >= 2^w, which is
        // the encoder's next >= 2^w.
        if (next >= (1 << width) && width < 12) width += 1
        if (next == 4096) { // table full: clear, like real encoders
          put(256); dict.clear(); next = 258; width = 9
        }
        cur = new java.util.ArrayList[java.lang.Byte]()
        cur.add(in(i))
        curCode = in(i) & 0xFF
      }
      i += 1
    }
    if (cur.size > 0) put(curCode)
    put(257) // EOD
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xFF).toInt)
    out.toByteArray
  }

  private def asciiHexDecode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var hi = -1
    var i = 0
    var done = false
    while (i < in.length && !done) {
      val c = in(i) & 0xFF
      if (c == '>') done = true
      else if (!isWs(c)) {
        val d = Character.digit(c, 16)
        if (d < 0) fail("ahx")
        if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  private def ascii85Decode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var tuple = 0L; var n = 0; var i = 0; var done = false
    while (i < in.length && !done) {
      val c = in(i) & 0xFF
      if (c == '~') done = true
      else if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (!isWs(c)) {
        if (c < '!' || c > 'u') fail("a85")
        tuple = tuple * 85 + (c - '!'); n += 1
        if (n == 5) {
          out.write(((tuple >> 24) & 0xFF).toInt); out.write(((tuple >> 16) & 0xFF).toInt)
          out.write(((tuple >> 8) & 0xFF).toInt); out.write((tuple & 0xFF).toInt)
          tuple = 0; n = 0
        }
      }
      i += 1
    }
    if (n > 0) { // partial group: pad with 'u', emit n-1 bytes
      var k = n
      while (k < 5) { tuple = tuple * 85 + 84; k += 1 }
      val bs = Array(((tuple >> 24) & 0xFF).toByte, ((tuple >> 16) & 0xFF).toByte,
        ((tuple >> 8) & 0xFF).toByte)
      out.write(bs, 0, n - 1)
    }
    out.toByteArray
  }

  private def runLengthDecode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < in.length) {
      val l = in(i) & 0xFF; i += 1
      if (l == 128) i = in.length
      else if (l < 128) {
        if (i + l + 1 > in.length) fail("rle")
        out.write(in, i, l + 1); i += l + 1
      } else {
        if (i >= in.length) fail("rle")
        val b = in(i); i += 1
        var k = 0; while (k < 257 - l) { out.write(b); k += 1 }
      }
      if (out.size > MaxStream) fail("rle bomb")
    }
    out.toByteArray
  }

  /** TIFF(2)/PNG(10-15) predictors over `columns`×`bpp` rows (§7.4.4.4). */
  private def unpredict(data: Array[Byte], predictor: Int, columns: Int,
      colors: Int, bpc: Int): Array[Byte] = {
    if (predictor < 2) return data
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = math.max(1, columns * colors * bpc / 8)
    if (predictor == 2) { // TIFF horizontal differencing (8-bit path)
      val out = data.clone()
      var r = 0
      while (r + rowLen <= out.length) {
        var i = bpp
        while (i < rowLen) { out(r + i) = (out(r + i) + out(r + i - bpp)).toByte; i += 1 }
        r += rowLen
      }
      return out
    }
    // PNG: every row prefixed by a filter-type byte
    val stride = rowLen + 1
    val rows = data.length / stride
    val out = new Array[Byte](rows * rowLen)
    val prior = new Array[Byte](rowLen)
    var r = 0
    while (r < rows) {
      val ft = data(r * stride) & 0xFF
      val src = r * stride + 1
      val dst = r * rowLen
      var i = 0
      while (i < rowLen) {
        val raw = data(src + i) & 0xFF
        val left = if (i >= bpp) out(dst + i - bpp) & 0xFF else 0
        val up = prior(i) & 0xFF
        val ul = if (i >= bpp) prior(i - bpp) & 0xFF else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + ((left + up) / 2)
          case 4 =>
            val pa = math.abs(up - ul); val pb = math.abs(left - ul)
            val pc = math.abs(left + up - 2 * ul)
            val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
            raw + pred
          case _ => fail("png filter")
        }
        out(dst + i) = (v & 0xFF).toByte
        i += 1
      }
      System.arraycopy(out, dst, prior, 0, rowLen)
      r += 1
    }
    out
  }

  // ---- standard security handler (§7.6.2-4) ------------------------------
  //
  // The overwhelmingly common encrypted-in-the-wild case is the standard
  // handler with an EMPTY user password (world-readable; the "owner
  // password" only gates editing). Implemented per PDF 32000-1:2008:
  // Algorithm 2 (file key), 3 (owner entry — writer side), 4/5 (user
  // entry + password verification), and per-object keys (§7.6.2
  // Algorithm 1) for RC4 (V1 40-bit, V2 up to 128-bit) and AESV2
  // (AES-128-CBC, 16-byte IV prefix, PKCS#7); plus AES-256 V5/R5-R6
  // per ISO 32000-2 §7.6.4 (Algorithm 2.B KDF, /U-validated, file key
  // unwrapped from /UE, the file key used directly as object key).
  // Documents whose empty-password check fails remain the `encrypted`
  // class: password-required.

  private val PasswordPad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  /** RC4 (KSA + PRGA) — symmetric, so this is also the encryptor. */
  private def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + key(i % key.length)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    i = 0; j = 0
    var k = 0
    while (k < data.length) {
      i = (i + 1) & 0xFF
      j = (j + s(i)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
      out(k) = (data(k) ^ s((s(i) + s(j)) & 0xFF)).toByte
      k += 1
    }
    out
  }

  private def padPw(pw: Array[Byte]): Array[Byte] =
    (pw.take(32) ++ PasswordPad).take(32)

  private def le32(v: Int): Array[Byte] = Array(
    (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  /** Algorithm 2: the file encryption key from the (empty) user
    * password, /O, /P, the first /ID element; n key bytes.
    */
  private def fileKey(userPw: Array[Byte], o: Array[Byte], p: Int,
      id0: Array[Byte], r: Int, n: Int, encMeta: Boolean): Array[Byte] = {
    var h =
      if (r >= 4 && !encMeta)
        md5(padPw(userPw), o, le32(p), id0,
          Array(0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte))
      else md5(padPw(userPw), o, le32(p), id0)
    if (r >= 3) { var i = 0; while (i < 50) { h = md5(h.take(n)); i += 1 } }
    h.take(n)
  }

  /** Algorithm 3 (writer side): the /O entry from owner+user passwords. */
  private def ownerEntry(ownerPw: Array[Byte], userPw: Array[Byte],
      r: Int, n: Int): Array[Byte] = {
    var h = md5(padPw(ownerPw))
    if (r >= 3) { var i = 0; while (i < 50) { h = md5(h.take(n)); i += 1 } }
    val key = h.take(n)
    var o = rc4(key, padPw(userPw))
    if (r >= 3)
      (1 to 19).foreach(i => o = rc4(key.map(b => (b ^ i).toByte), o))
    o
  }

  /** Algorithm 4/5: the expected /U value for `key` (32 bytes; for
    * R >= 3 only the first 16 are significant — padded with zeros).
    */
  private def userEntry(key: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(key, PasswordPad)
    else {
      var x = rc4(key, md5(PasswordPad, id0))
      (1 to 19).foreach(i => x = rc4(key.map(b => (b ^ i).toByte), x))
      x ++ new Array[Byte](16)
    }

  /** Algorithm 1: the per-object key (MD5 of file key + 3 LE bytes of
    * the object number + 2 of the generation, plus "sAlT" for AESV2).
    */
  private def objectKey(key: Array[Byte], num: Int, gen: Int,
      aes: Boolean): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(key)
    md.update(Array((num & 0xFF).toByte, ((num >> 8) & 0xFF).toByte,
      ((num >> 16) & 0xFF).toByte, (gen & 0xFF).toByte,
      ((gen >> 8) & 0xFF).toByte))
    if (aes) md.update(Array[Byte](0x73, 0x41, 0x6C, 0x54)) // "sAlT"
    md.digest().take(math.min(key.length + 5, 16))
  }

  /** Algorithm 2.B (ISO 32000-2 §7.6.4.3.4): the iterated
    * SHA-256/384/512 password KDF for R6 — 64+ rounds of AES-128-CBC
    * over `(pw ‖ K ‖ udata) × 64` with a data-dependent hash pick and
    * stop rule. R5 (the deprecated ExtensionLevel 3 form) is the
    * single initial SHA-256. `udata` is empty for user-password
    * derivation, the 48-byte /U for owner-password derivation.
    */
  private val hash2BMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  private def hash2B(r: Int, pw: Array[Byte], salt: Array[Byte],
      udata: Array[Byte]): Array[Byte] = {
    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02x").mkString
    val key = r + ":" + hex(pw) + ":" + hex(salt) + ":" + hex(udata)
    val hit = hash2BMemo.get(key)
    if (hit != null) return hit.clone()
    val out = hash2BCompute(r, pw, salt, udata)
    if (hash2BMemo.size < 64) hash2BMemo.put(key, out.clone())
    out
  }

  private def hash2BCompute(r: Int, pw: Array[Byte], salt: Array[Byte],
      udata: Array[Byte]): Array[Byte] = {
    def sha(alg: String, parts: Array[Byte]*): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance(alg)
      parts.foreach(md.update)
      md.digest()
    }
    var k = sha("SHA-256", pw, salt, udata)
    if (r == 5) return k
    var i = 0
    var done = false
    while (!done) {
      val one = pw ++ k ++ udata
      val k1 = new Array[Byte](one.length * 64) // ×64 ⇒ always a ×16 size
      var j = 0
      while (j < 64) {
        System.arraycopy(one, 0, k1, j * one.length, one.length)
        j += 1
      }
      val e = aesCbc(k.take(16), java.util.Arrays.copyOfRange(k, 16, 32),
        k1, encrypt = true)
      var sum = 0
      var t = 0
      while (t < 16) { sum += e(t) & 0xFF; t += 1 }
      k = (sum % 3) match {
        case 0 => sha("SHA-256", e)
        case 1 => sha("SHA-384", e)
        case _ => sha("SHA-512", e)
      }
      i += 1
      done = i >= 64 && (e(e.length - 1) & 0xFF) <= i - 32
    }
    k.take(32)
  }

  private def aesCbc(key: Array[Byte], iv: Array[Byte], data: Array[Byte],
      encrypt: Boolean): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(
      if (encrypt) javax.crypto.Cipher.ENCRYPT_MODE
      else javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** Decrypt one string/stream payload with the per-object key (V1-4)
    * or the file key directly (V5, §7.6.2: AES-256 drops Algorithm 1).
    */
  private def decryptBytes(key: Array[Byte], num: Int, gen: Int,
      aes: Boolean, v5: Boolean, data: Array[Byte]): Array[Byte] = {
    if (data.length == 0) return data
    val k = if (v5) key else objectKey(key, num, gen, aes)
    if (!aes) return rc4(k, data)
    // AESV2: 16-byte IV prefix, CBC, PKCS#7 padding
    if (data.length < 32 || (data.length & 15) != 0) fail("aes size")
    val iv = java.util.Arrays.copyOfRange(data, 0, 16)
    val dec = try aesCbc(k, iv, java.util.Arrays.copyOfRange(data, 16, data.length), encrypt = false)
      catch { case _: java.security.GeneralSecurityException => fail("aes") }
    val pad = dec(dec.length - 1) & 0xFF
    if (pad < 1 || pad > 16 || pad > dec.length) fail("aes pad")
    java.util.Arrays.copyOfRange(dec, 0, dec.length - pad)
  }

  // ---- document --------------------------------------------------------

  /** Lazily-resolving document: xref maps + object cache. */
  private final class Doc(val b: Array[Byte]) {
    var direct = Map.empty[Int, Long] // obj num -> byte offset
    var inStm = Map.empty[Int, (Int, Int)] // obj num -> (objstm num, index)
    var trailer = Map.empty[String, Obj]
    var recovered = false
    // empty-user-password standard-handler state (null = no decryption)
    var cryptKey: Array[Byte] = null
    var cryptAes = false
    var cryptV5 = false // V5/AES-256: the file key IS the object key
    var cryptExclude = -1 // the /Encrypt dict's own object number
    private val cache = new java.util.HashMap[Int, Obj]()
    private var loading = Set.empty[Int]

    def resolve(o: Obj, depth: Int = 0): Obj = o match {
      case PRef(n, _) if depth < 32 => resolve(obj(n), depth + 1)
      case PRef(_, _)               => PNull
      case other                    => other
    }

    def obj(num: Int): Obj = {
      val hit = cache.get(num)
      if (hit != null) return hit
      if (loading(num)) return PNull // cycle
      loading += num
      try {
        val o = direct.get(num) match {
          case Some(off) => parseIndirectAt(off, num)
          case None => inStm.get(num) match {
            case Some((stm, idx)) => fromObjStm(stm, idx, num)
            case None             => PNull
          }
        }
        cache.put(num, o)
        o
      } catch { case _: Damage => cache.put(num, PNull); PNull }
      finally loading -= num
    }

    private def parseIndirectAt(off: Long, expectNum: Int): Obj = {
      if (off < 0 || off >= b.length) fail("offset")
      val lx = new Lex(b, off.toInt)
      val n = lx.token().toIntOption.getOrElse(fail("objnum"))
      val gen = lx.token().toIntOption.getOrElse(0)
      lx.expect("obj")
      if (n != expectNum) fail("wrong object")
      val o = parseObject(lx, 0, refs = true)
      lx.skipWs()
      val parsed = if (lx.peekToken() == "stream") {
        lx.expect("stream")
        // exactly CRLF or LF after the keyword (tolerate lone CR)
        if (lx.cur == '\r') lx.p += 1
        if (lx.cur == '\n') lx.p += 1
        val dict = o match { case d: PDict => d; case _ => fail("stream dict") }
        val len = resolve(dict.m.getOrElse("Length", PNull)) match {
          case PNum(v) if v >= 0 && lx.p + v <= b.length => v.toInt
          case _ => // damaged Length: scan for endstream
            val idx = indexOf(b, "endstream".getBytes(ISO_8859_1), lx.p)
            if (idx < 0) fail("endstream")
            var e = idx
            if (e > lx.p && b(e - 1) == '\n') e -= 1
            if (e > lx.p && b(e - 1) == '\r') e -= 1
            e - lx.p
        }
        PStream(dict, java.util.Arrays.copyOfRange(b, lx.p, lx.p + len))
      } else o
      if (cryptKey == null || expectNum == cryptExclude) parsed
      else decryptObj(parsed, expectNum, gen)
    }

    /** Strings and stream payloads of a just-loaded indirect object
      * decrypt with that object's number/generation (§7.6.2); objects
      * INSIDE object streams are not re-encrypted (the container
      * stream already was), and cross-reference streams are never
      * encrypted.
      */
    private def decryptObj(o: Obj, num: Int, gen: Int): Obj = o match {
      case PStr(bytes) =>
        PStr(decryptBytes(cryptKey, num, gen, cryptAes, cryptV5, bytes))
      case PArr(items) => PArr(items.map(decryptObj(_, num, gen)))
      case PDict(m) =>
        PDict(m.map { case (k, v) => k -> decryptObj(v, num, gen) })
      case PStream(dict, raw) =>
        dict.m.get("Type") match {
          case Some(PName("XRef")) => o // never encrypted (§7.5.8.2)
          case _ =>
            PStream(decryptObj(dict, num, gen).asInstanceOf[PDict],
              decryptBytes(cryptKey, num, gen, cryptAes, cryptV5, raw))
        }
      case other => other
    }

    private def fromObjStm(stmNum: Int, idx: Int, expectNum: Int): Obj = {
      val data = obj(stmNum) match {
        case s: PStream =>
          val d = decodeStream(s, this)
          if (d == null) fail("objstm codec")
          d
        case _ => fail("objstm missing")
      }
      val dict = obj(stmNum).asInstanceOf[PStream].dict.m
      val n = resolve(dict.getOrElse("N", PNull)) match {
        case PNum(v) if v >= 0 && v <= 65536 => v.toInt; case _ => fail("objstm N")
      }
      val first = resolve(dict.getOrElse("First", PNull)) match {
        case PNum(v) if v >= 0 => v.toInt; case _ => fail("objstm First")
      }
      val hl = new Lex(data, 0)
      var found = -1L
      var i = 0
      var objNum = -1
      while (i < n) {
        val on = hl.token().toLongOption.getOrElse(fail("objstm hdr"))
        val ooff = hl.token().toLongOption.getOrElse(fail("objstm hdr"))
        if (i == idx || on == expectNum) { found = ooff; objNum = on.toInt }
        i += 1
      }
      if (found < 0 || objNum != expectNum) fail("objstm entry")
      val ol = new Lex(data, (first + found).toInt)
      if (ol.p > data.length) fail("objstm off")
      parseObject(ol, 0, refs = true)
    }
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = math.max(0, from)
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
  private def lastIndexOf(hay: Array[Byte], needle: Array[Byte]): Int = {
    var i = hay.length - needle.length
    while (i >= 0) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i -= 1
    }
    -1
  }

  /** Decode a stream through its /Filter chain; null when the chain hits
    * an image codec (DCT/JPX/JBIG2/CCITT — valid data, not text).
    */
  private def decodeStream(s: PStream, doc: Doc): Array[Byte] = {
    val filters: Vector[String] = doc.resolve(s.dict.m.getOrElse("Filter", PNull)) match {
      case PName(n)    => Vector(n)
      case PArr(items) => items.map(doc.resolve(_)).collect { case PName(n) => n }
      case _           => Vector.empty
    }
    val parms: Vector[Map[String, Obj]] = doc.resolve(s.dict.m.getOrElse("DecodeParms", PNull)) match {
      case PDict(m)    => Vector(m)
      case PArr(items) => items.map(doc.resolve(_)).map { case PDict(m) => m; case _ => Map.empty[String, Obj] }
      case _           => Vector.empty
    }
    var data = s.raw
    var i = 0
    while (i < filters.length) {
      val pm = if (i < parms.length) parms(i) else Map.empty[String, Obj]
      def pint(k: String, dflt: Int): Int = doc.resolve(pm.getOrElse(k, PNull)) match {
        case PNum(v) => v.toInt; case _ => dflt
      }
      data = filters(i) match {
        case "FlateDecode" | "Fl" =>
          unpredict(inflate(data), pint("Predictor", 1), pint("Columns", 1),
            pint("Colors", 1), pint("BitsPerComponent", 8))
        case "LZWDecode" | "LZW" =>
          unpredict(lzwDecode(data, pint("EarlyChange", 1)), pint("Predictor", 1),
            pint("Columns", 1), pint("Colors", 1), pint("BitsPerComponent", 8))
        case "ASCIIHexDecode" | "AHx"  => asciiHexDecode(data)
        case "ASCII85Decode" | "A85"   => ascii85Decode(data)
        case "RunLengthDecode" | "RL"  => runLengthDecode(data)
        case "DCTDecode" | "JPXDecode" | "JBIG2Decode" | "CCITTFaxDecode" =>
          return null // image payload — named non-text class
        case "Crypt" => return null
        case _       => fail("filter")
      }
      i += 1
    }
    data
  }

  // ---- xref ---------------------------------------------------------------

  /** Parse the xref chain from the trailing startxref; throws Damage. */
  private def loadXref(doc: Doc): Unit = {
    val b = doc.b
    val sx = lastIndexOf(b, "startxref".getBytes(ISO_8859_1))
    if (sx < 0) fail("startxref")
    val lx0 = new Lex(b, sx + 9)
    var off = lx0.token().toLongOption.getOrElse(fail("startxref num"))
    var hops = 0
    var seen = Set.empty[Long]
    while (off >= 0 && hops < 64) {
      if (seen(off) || off >= b.length) fail("xref loop")
      seen += off
      hops += 1
      val lx = new Lex(b, off.toInt)
      lx.skipWs()
      val next: Long =
        if (lx.peekToken() == "xref") { // classic table
          lx.expect("xref")
          var go = true
          while (go) {
            lx.skipWs()
            val t = lx.peekToken()
            if (t == "trailer" || t.isEmpty) go = false
            else {
              val start = lx.token().toIntOption.getOrElse(fail("xref sub"))
              val count = lx.token().toIntOption.getOrElse(fail("xref sub"))
              if (count < 0 || count > MaxObjects) fail("xref count")
              var i = 0
              while (i < count) {
                val o = lx.token().toLongOption.getOrElse(fail("xref ent"))
                lx.token() // gen
                val tpe = lx.token()
                val num = start + i
                if (tpe == "n" && !doc.direct.contains(num) && !doc.inStm.contains(num))
                  doc.direct += num -> o
                i += 1
              }
            }
          }
          lx.expect("trailer")
          val tr = parseObject(lx, 0, refs = true) match {
            case PDict(m) => m; case _ => fail("trailer")
          }
          tr.foreach { case (k, v) => if (!doc.trailer.contains(k)) doc.trailer += k -> v }
          // hybrid-reference files: the XRefStm entries take precedence
          tr.get("XRefStm").foreach {
            case PNum(v) => try loadXrefStreamAt(doc, v.toLong) catch { case _: Damage => () }
            case _       => ()
          }
          tr.get("Prev") match { case Some(PNum(v)) => v.toLong; case _ => -1L }
        } else loadXrefStreamAt(doc, off)
      off = next
    }
    if (doc.direct.size + doc.inStm.size > MaxObjects) fail("xref size")
  }

  /** Parse one cross-reference STREAM; returns /Prev or -1. */
  private def loadXrefStreamAt(doc: Doc, off: Long): Long = {
    if (off < 0 || off >= doc.b.length) fail("xrefstm off")
    val lx = new Lex(doc.b, off.toInt)
    lx.token() // num
    lx.token() // gen
    lx.expect("obj")
    val o = parseObject(lx, 0, refs = true)
    val dict = o match { case PDict(m) => m; case _ => fail("xrefstm dict") }
    lx.skipWs()
    lx.expect("stream")
    if (lx.cur == '\r') lx.p += 1
    if (lx.cur == '\n') lx.p += 1
    def num(k: String): Long = dict.getOrElse(k, PNull) match {
      case PNum(v) => v.toLong; case _ => -1L
    }
    val len = num("Length")
    if (len < 0 || lx.p + len > doc.b.length) fail("xrefstm len")
    val raw = java.util.Arrays.copyOfRange(doc.b, lx.p, lx.p + len.toInt)
    val data = decodeStream(PStream(PDict(dict), raw), doc)
    if (data == null) fail("xrefstm codec")
    val w = dict.getOrElse("W", PNull) match {
      case PArr(items) => items.collect { case PNum(v) => v.toInt }.toArray
      case _           => fail("xrefstm W")
    }
    if (w.length < 3 || w.exists(x => x < 0 || x > 8)) fail("xrefstm W")
    val size = num("Size")
    val index: Array[Long] = dict.getOrElse("Index", PNull) match {
      case PArr(items) => items.collect { case PNum(v) => v.toLong }.toArray
      case _           => Array(0L, size)
    }
    if (index.length % 2 != 0) fail("xrefstm Index")
    val rowLen = w.sum
    var p = 0
    var s = 0
    while (s < index.length) {
      val start = index(s); val count = index(s + 1)
      if (count < 0 || count > MaxObjects) fail("xrefstm count")
      var i = 0L
      while (i < count) {
        if (p + rowLen > data.length) fail("xrefstm rows")
        def field(k: Int): Long = {
          var off0 = p
          var kk = 0
          while (kk < k) { off0 += w(kk); kk += 1 }
          var v = 0L
          var j = 0
          while (j < w(k)) { v = (v << 8) | (data(off0 + j) & 0xFF); j += 1 }
          v
        }
        val tpe = if (w(0) == 0) 1L else field(0)
        val f2 = field(1); val f3 = field(2)
        val nm = (start + i).toInt
        if (!doc.direct.contains(nm) && !doc.inStm.contains(nm)) {
          if (tpe == 1L) doc.direct += nm -> f2
          else if (tpe == 2L) doc.inStm += nm -> (f2.toInt, f3.toInt)
        }
        p += rowLen
        i += 1
      }
      s += 2
    }
    dict.foreach { case (k, v) => if (!doc.trailer.contains(k)) doc.trailer += k -> v }
    num("Prev")
  }

  /** Repair path: scan the whole file for `N G obj` headers (LAST
    * occurrence of each object number wins — latest incremental
    * version), and take the last trailer-shaped /Root available.
    */
  private def scanObjects(doc: Doc): Unit = {
    val b = doc.b
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == 'o' && b(i + 1) == 'b' && b(i + 2) == 'j' &&
          (i + 3 >= b.length || isWs(b(i + 3) & 0xFF) || isDelim(b(i + 3) & 0xFF))) {
        // walk back: ws, gen digits, ws, num digits
        var j = i - 1
        while (j >= 0 && isWs(b(j) & 0xFF)) j -= 1
        val genEnd = j
        while (j >= 0 && b(j) >= '0' && b(j) <= '9') j -= 1
        val genStart = j + 1
        if (genEnd >= genStart) {
          while (j >= 0 && isWs(b(j) & 0xFF)) j -= 1
          val numEnd = j
          while (j >= 0 && b(j) >= '0' && b(j) <= '9') j -= 1
          val numStart = j + 1
          if (numEnd >= numStart && numEnd - numStart < 9 &&
              (numStart == 0 || isWs(b(numStart - 1) & 0xFF) || isDelim(b(numStart - 1) & 0xFF))) {
            val num = new String(b, numStart, numEnd - numStart + 1, ISO_8859_1).toInt
            doc.direct += num -> numStart.toLong // last wins
          }
        }
      }
      i += 1
    }
    if (doc.direct.size > MaxObjects) fail("scan size")
    // trailer: last "trailer << ... >>" dict, else any /Type /Catalog object
    val ti = lastIndexOf(b, "trailer".getBytes(ISO_8859_1))
    if (ti >= 0) {
      try {
        val lx = new Lex(b, ti + 7)
        parseObject(lx, 0, refs = true) match {
          case PDict(m) => doc.trailer = m
          case _        => ()
        }
      } catch { case _: Damage => () }
    }
    if (!doc.trailer.contains("Root")) {
      doc.direct.keys.toSeq.sorted.foreach { n =>
        if (!doc.trailer.contains("Root")) doc.obj(n) match {
          case PDict(m) if m.get("Type").contains(PName("Catalog")) =>
            doc.trailer += "Root" -> PRef(n, 0)
          case PStream(_, _) | _ => ()
        }
      }
    }
    doc.recovered = true
  }

  // ---- fonts -----------------------------------------------------------

  /** cp1252's 0x80–0x9F block (WinAnsiEncoding's deviation from
    * Latin-1); everything else in WinAnsi maps byte == code point.
    */
  private val Win80: Array[Char] = {
    val a = new Array[Char](32)
    val m = Map(0x80 -> '€', 0x82 -> '‚', 0x83 -> 'ƒ',
      0x84 -> '„', 0x85 -> '…', 0x86 -> '†', 0x87 -> '‡',
      0x88 -> 'ˆ', 0x89 -> '‰', 0x8A -> 'Š', 0x8B -> '‹',
      0x8C -> 'Œ', 0x8E -> 'Ž', 0x91 -> '‘', 0x92 -> '’',
      0x93 -> '“', 0x94 -> '”', 0x95 -> '•', 0x96 -> '–',
      0x97 -> '—', 0x98 -> '˜', 0x99 -> '™', 0x9A -> 'š',
      0x9B -> '›', 0x9C -> 'œ', 0x9E -> 'ž', 0x9F -> 'Ÿ')
    (0 until 32).foreach(i => a(i) = m.getOrElse(0x80 + i, '\u0000').toChar)
    a
  }

  /** Adobe-Glyph-List subset: the punctuation/digit names /Differences
    * arrays actually use; single-char names map to themselves; uniXXXX
    * parses. Unknown names decode to nothing (named simplification).
    */
  private val Glyphs: Map[String, Char] = Map(
    "space" -> ' ', "exclam" -> '!', "quotedbl" -> '"', "numbersign" -> '#',
    "dollar" -> '$', "percent" -> '%', "ampersand" -> '&', "quotesingle" -> '\'',
    "parenleft" -> '(', "parenright" -> ')', "asterisk" -> '*', "plus" -> '+',
    "comma" -> ',', "hyphen" -> '-', "period" -> '.', "slash" -> '/',
    "zero" -> '0', "one" -> '1', "two" -> '2', "three" -> '3', "four" -> '4',
    "five" -> '5', "six" -> '6', "seven" -> '7', "eight" -> '8', "nine" -> '9',
    "colon" -> ':', "semicolon" -> ';', "less" -> '<', "equal" -> '=',
    "greater" -> '>', "question" -> '?', "at" -> '@', "bracketleft" -> '[',
    "backslash" -> '\\', "bracketright" -> ']', "asciicircum" -> '^',
    "underscore" -> '_', "grave" -> '`', "braceleft" -> '{', "bar" -> '|',
    "braceright" -> '}', "asciitilde" -> '~', "eacute" -> 'é',
    "egrave" -> 'è', "agrave" -> 'à', "ccedilla" -> 'ç',
    "adieresis" -> 'ä', "odieresis" -> 'ö', "udieresis" -> 'ü',
    "bullet" -> '•', "emdash" -> '—', "endash" -> '–')

  private def glyphChar(name: String): Option[Char] =
    if (name.length == 1) Some(name.charAt(0))
    else if (name.length == 7 && name.startsWith("uni"))
      try Some(Integer.parseInt(name.substring(3), 16).toChar)
      catch { case _: NumberFormatException => None }
    else Glyphs.get(name)

  /** A font's byte-stream → text mapping. `twoByte` marks CMaps whose
    * codespace is 2 bytes wide (Type0/Identity-style).
    */
  private final case class FontDec(map: Map[Int, String], twoByte: Boolean,
      base: Int) {
    // base: 0 = WinAnsi/Standard identity-ish, 1 = map-only (ToUnicode)
    def decode(bytes: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      val step = if (twoByte) 2 else 1
      while (i + step <= bytes.length) {
        val code = if (twoByte) ((bytes(i) & 0xFF) << 8) | (bytes(i + 1) & 0xFF)
          else bytes(i) & 0xFF
        map.get(code) match {
          case Some(s) => sb.append(s)
          case None if base == 0 =>
            if (code >= 0x20 && code <= 0x7E) sb.append(code.toChar)
            else if (code >= 0xA0 && code <= 0xFF) sb.append(code.toChar)
            else if (code >= 0x80 && code <= 0x9F && Win80(code - 0x80) != 0)
              sb.append(Win80(code - 0x80))
          case None => () // unmapped custom code: drop, don't guess
        }
        i += step
      }
      sb.toString
    }
  }
  private val DefaultFont = FontDec(Map.empty, twoByte = false, base = 0)

  /** Parse a /ToUnicode CMap stream (§9.10.3): codespacerange width,
    * bfchar pairs, bfrange triples (both destination forms).
    */
  private def parseCMap(data: Array[Byte]): FontDec = {
    val lx = new Lex(data, 0)
    var map = Map.empty[Int, String]
    var twoByte = false
    def hexInt(o: Obj): Int = o match {
      case PStr(bs) =>
        var v = 0; bs.foreach(b => v = (v << 8) | (b & 0xFF)); v
      case PNum(v) => v.toInt
      case _       => fail("cmap code")
    }
    def utf16(o: Obj): String = o match {
      case PStr(bs) => new String(bs, java.nio.charset.StandardCharsets.UTF_16BE)
      case _        => fail("cmap dst")
    }
    val stack = scala.collection.mutable.ArrayBuffer.empty[Obj]
    var guard = 0
    while (!{ lx.skipWs(); lx.end } && guard < 200000) {
      guard += 1
      val o = try parseObject(lx, 0, refs = false) catch { case _: Damage => POp("?") }
      o match {
        case POp("begincodespacerange") =>
          stack.clear()
        case POp("endcodespacerange") =>
          stack.collect { case PStr(bs) => bs.length }.foreach(l => if (l >= 2) twoByte = true)
          stack.clear()
        case POp("beginbfchar") | POp("beginbfrange") => stack.clear()
        case POp("endbfchar") =>
          stack.grouped(2).foreach {
            case scala.collection.mutable.ArrayBuffer(src, dst) =>
              map += hexInt(src) -> utf16(dst)
            case _ => ()
          }
          stack.clear()
        case POp("endbfrange") =>
          stack.grouped(3).foreach {
            case scala.collection.mutable.ArrayBuffer(lo0, hi0, dst) =>
              val lo = hexInt(lo0); val hi = hexInt(hi0)
              if (hi >= lo && hi - lo < 65536) dst match {
                case PArr(items) =>
                  items.zipWithIndex.foreach { case (d, k) =>
                    if (lo + k <= hi) map += (lo + k) -> utf16(d)
                  }
                case PStr(bs) =>
                  val start = utf16(PStr(bs))
                  if (start.nonEmpty) {
                    val cp = start.codePointAt(0)
                    var c = lo
                    while (c <= hi) {
                      map += c -> new String(Character.toChars(cp + (c - lo)))
                      c += 1
                    }
                  }
                case PNum(v) =>
                  var c = lo
                  while (c <= hi) { map += c -> (v.toInt + (c - lo)).toChar.toString; c += 1 }
                case _ => ()
              }
            case _ => ()
          }
          stack.clear()
        case POp(_) => stack.clear()
        case v      => stack += v
      }
    }
    FontDec(map, twoByte, base = 1)
  }

  private def buildFont(doc: Doc, fontObj: Obj): FontDec = {
    val dict = doc.resolve(fontObj) match {
      case PDict(m)      => m
      case PStream(d, _) => d.m
      case _             => return DefaultFont
    }
    doc.resolve(dict.getOrElse("ToUnicode", PNull)) match {
      case s: PStream =>
        val data = try decodeStream(s, doc) catch { case _: Damage => null }
        if (data != null) return try parseCMap(data) catch { case _: Damage => DefaultFont }
      case _ => ()
    }
    doc.resolve(dict.getOrElse("Encoding", PNull)) match {
      case PDict(em) =>
        var map = Map.empty[Int, String]
        doc.resolve(em.getOrElse("Differences", PNull)) match {
          case PArr(items) =>
            var code = 0
            items.foreach {
              case PNum(v) => code = v.toInt
              case PName(n) =>
                glyphChar(n).foreach(c => map += code -> c.toString)
                code += 1
              case _ => ()
            }
          case _ => ()
        }
        FontDec(map, twoByte = false, base = 0)
      case PName(_) => DefaultFont // WinAnsi/Standard/MacRoman(ASCII range)
      case _        => DefaultFont
    }
  }

  // ---- page tree + content ----------------------------------------------

  private def collectPages(doc: Doc, node: Obj, inheritedRes: Obj,
      out: scala.collection.mutable.ArrayBuffer[(Map[String, Obj], Obj)],
      depth: Int): Unit = {
    if (depth > 32 || out.length >= MaxPages) return
    doc.resolve(node) match {
      case PDict(m) =>
        val res = m.get("Resources").map(doc.resolve(_)).getOrElse(inheritedRes)
        doc.resolve(m.getOrElse("Type", PNull)) match {
          case PName("Pages") =>
            doc.resolve(m.getOrElse("Kids", PNull)) match {
              case PArr(kids) =>
                kids.foreach(k => collectPages(doc, k, res, out, depth + 1))
              case _ => ()
            }
          case PName("Page") => out += ((m, res))
          case _             => ()
        }
      case _ => ()
    }
  }

  private def pageContent(doc: Doc, page: Map[String, Obj]): Array[Byte] =
    doc.resolve(page.getOrElse("Contents", PNull)) match {
      case s: PStream =>
        val d = try decodeStream(s, doc) catch { case _: Damage => null }
        if (d == null) Array.emptyByteArray else d
      case PArr(items) =>
        val out = new java.io.ByteArrayOutputStream()
        items.foreach { it =>
          doc.resolve(it) match {
            case s: PStream =>
              val d = try decodeStream(s, doc) catch { case _: Damage => null }
              if (d != null) { out.write(d); out.write('\n') }
            case _ => ()
          }
        }
        out.toByteArray
      case _ => Array.emptyByteArray
    }

  /** Run the text operators over one content stream (assembly model in
    * the header Scaladoc).
    */
  private def extractPageText(doc: Doc, content: Array[Byte],
      fonts: Map[String, FontDec]): String = {
    val lx = new Lex(content, 0)
    val sb = new StringBuilder
    var font = DefaultFont
    // coordinate-driven layout: the y each Tm places text at — a Tm
    // whose y differs from the tracked line (with text shown since
    // the last break) is a line break, the common generator shape
    // that uses NO line operators at all. Td/TD shift the tracked y;
    // T* leaves it unknown (leading isn't tracked).
    var tmY = Double.NaN
    var shownOnLine = false
    val operands = scala.collection.mutable.ArrayBuffer.empty[Obj]
    def newline(): Unit = {
      if (sb.nonEmpty && sb.charAt(sb.length - 1) != '\n') sb.append('\n')
      shownOnLine = false
    }
    def show(o: Obj): Unit = o match {
      case PStr(bs) =>
        val before = sb.length
        sb.append(font.decode(bs))
        if (sb.length > before) shownOnLine = true
      case _ => ()
    }
    var guard = 0
    while (!{ lx.skipWs(); lx.end } && guard < 2000000 && sb.length < MaxStream) {
      guard += 1
      val o = try parseObject(lx, 0, refs = false) catch {
        case _: Damage => lx.p += 1; PNull
      }
      o match {
        case POp(op) =>
          op match {
            case "Tj" => if (operands.nonEmpty) show(operands.last)
            case "TJ" => operands.lastOption.foreach {
              case PArr(items) => items.foreach(show)
              case _           => ()
            }
            case "'" => newline(); if (operands.nonEmpty) show(operands.last)
            case "\"" => newline(); if (operands.nonEmpty) show(operands.last)
            case "T*" => newline(); tmY = Double.NaN
            case "Td" | "TD" => operands.lastOption.foreach {
              case PNum(ty) =>
                if (ty != 0) newline()
                if (!tmY.isNaN) tmY += ty // relative line move
              case _ => ()
            }
            case "Tm" => // a b c d e f Tm: f is the placed y
              if (operands.length >= 6) operands.last match {
                case PNum(y) =>
                  if (!tmY.isNaN && y != tmY && shownOnLine) newline()
                  tmY = y
                case _ => ()
              }
            case "Tf" =>
              if (operands.length >= 2) operands(operands.length - 2) match {
                case PName(fn) => font = fonts.getOrElse(fn, DefaultFont)
                case _         => ()
              }
            case "BI" => // inline image: skip raw data to EI
              val id = indexOf(content, "ID".getBytes(ISO_8859_1), lx.p)
              if (id < 0) lx.p = content.length
              else {
                var e = indexOf(content, "EI".getBytes(ISO_8859_1), id + 2)
                var found = false
                while (e >= 0 && !found) {
                  val after = if (e + 2 < content.length) content(e + 2) & 0xFF else 32
                  if (isWs(content(e - 1) & 0xFF) && (isWs(after) || e + 2 >= content.length))
                    found = true
                  else e = indexOf(content, "EI".getBytes(ISO_8859_1), e + 1)
                }
                lx.p = if (e < 0) content.length else e + 2
              }
            case _ => () // all positioning/path/state operators
          }
          operands.clear()
        case v => operands += v
      }
    }
    sb.toString
  }

  // ---- public decode API -------------------------------------------------

  /** One extracted document: per-page text, the xref-visible object
    * count, and the structural class (`ok`, `recovered_xref`,
    * `encrypted` — encrypted documents carry no pages).
    */
  final case class PdfText(pages: Array[String], nObjects: Int, cls: String)

  def isPdf(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-'

  /** Extract all page text; null when the bytes are not a recoverable
    * PDF. Degrade-don't-throw.
    */
  def extract(b: Array[Byte]): PdfText = try {
    if (!isPdf(b)) return null
    val doc = new Doc(b)
    try loadXref(doc) catch { case _: Damage => doc.direct = Map.empty; doc.inStm = Map.empty; doc.trailer = Map.empty; scanObjects(doc) }
    // /Encrypt: try the standard handler with the EMPTY user password
    // (world-readable documents). Password-required or out-of-subset
    // crypto stays the named `encrypted` class.
    if (doc.trailer.contains("Encrypt") && !setupCrypto(doc))
      return PdfText(Array.empty, doc.direct.size + doc.inStm.size, "encrypted")
    val root = doc.resolve(doc.trailer.getOrElse("Root", PNull)) match {
      case PDict(m) => m
      case _ => // xref parsed but catalog unreachable: repair once
        if (!doc.recovered) {
          doc.direct = Map.empty; doc.inStm = Map.empty; doc.trailer = Map.empty
          scanObjects(doc)
          doc.resolve(doc.trailer.getOrElse("Root", PNull)) match {
            case PDict(m) => m
            case _        => return null
          }
        } else return null
    }
    val pages = scala.collection.mutable.ArrayBuffer.empty[(Map[String, Obj], Obj)]
    collectPages(doc, root.getOrElse("Pages", PNull), PNull, pages, 0)
    val texts = pages.map { case (page, res) =>
      val fonts: Map[String, FontDec] = doc.resolve(res) match {
        case PDict(rm) => doc.resolve(rm.getOrElse("Font", PNull)) match {
          case PDict(fm) => fm.map { case (k, v) => k -> buildFont(doc, v) }
          case _         => Map.empty[String, FontDec]
        }
        case _ => Map.empty[String, FontDec]
      }
      try extractPageText(doc, pageContent(doc, page), fonts)
      catch { case _: Damage => "" }
    }
    PdfText(texts.toArray, doc.direct.size + doc.inStm.size,
      if (doc.recovered) "recovered_xref" else "ok")
  } catch {
    case _: Damage => null
    case _: RuntimeException => null
    case _: StackOverflowError => null
    case _: OutOfMemoryError => throw new RuntimeException("pdf oom guard")
  }

  /** Standard-security-handler setup with the empty user password:
    * parse /Encrypt, derive the file key (Algorithm 2), verify it
    * against /U (Algorithm 4/5). True = decryption armed on `doc`;
    * false = password-required or out-of-subset crypto (non-Standard
    * filters, per-filter routing beyond StdCF) — the `encrypted`
    * class.
    */
  private def setupCrypto(doc: Doc): Boolean = try {
    doc.trailer("Encrypt") match {
      case PRef(n, _) => doc.cryptExclude = n
      case _          => ()
    }
    val enc = doc.resolve(doc.trailer.getOrElse("Encrypt", PNull)) match {
      case PDict(m) => m
      case _        => return false
    }
    def num(k: String, dflt: Int): Int =
      doc.resolve(enc.getOrElse(k, PNull)) match {
        case PNum(v) => v.toInt
        case _       => dflt
      }
    def str(k: String): Array[Byte] =
      doc.resolve(enc.getOrElse(k, PNull)) match {
        case PStr(s) => s
        case _       => null
      }
    doc.resolve(enc.getOrElse("Filter", PNull)) match {
      case PName("Standard") => ()
      case _                 => return false // non-standard handlers: gap
    }
    val v = num("V", 0)
    val r = num("R", 0)
    val vrOk = (Set(1, 2)(v) && Set(2, 3)(r)) || (v == 4 && r == 4) ||
      (v == 5 && (r == 5 || r == 6))
    if (!vrOk) return false // unknown V/R combinations: named gap
    val o = str("O")
    val u = str("U")
    if (o == null || u == null || o.length < 32 || u.length < 32) return false
    val p = num("P", -1)
    val encMeta = doc.resolve(enc.getOrElse("EncryptMetadata", PNull)) match {
      case PBool(bv) => bv
      case _         => true
    }
    var aes = false
    var keyBits = num("Length", 40)
    if (v >= 4) {
      val stdCf = doc.resolve(enc.getOrElse("CF", PNull)) match {
        case PDict(cf) => doc.resolve(cf.getOrElse("StdCF", PNull)) match {
          case PDict(scf) => scf
          case _          => return false
        }
        case _ => return false
      }
      // streams AND strings must both route through StdCF — the
      // universal wild shape; split routing is out of subset
      def cfName(k: String): String =
        doc.resolve(enc.getOrElse(k, PNull)) match {
          case PName(nm) => nm
          case _         => "Identity"
        }
      if (cfName("StmF") != "StdCF" || cfName("StrF") != "StdCF") return false
      doc.resolve(stdCf.getOrElse("CFM", PNull)) match {
        case PName("AESV2") if v == 4 => aes = true
        case PName("V2") if v == 4    => aes = false
        case PName("AESV3") if v == 5 => aes = true
        case _                        => return false
      }
      doc.resolve(stdCf.getOrElse("Length", PNull)) match {
        // writers disagree whether CF /Length is bytes or bits
        case PNum(lv) => keyBits = if (lv <= 40) lv.toInt * 8 else lv.toInt
        case _        => ()
      }
    }
    if (v == 5) {
      // AES-256 (§7.6.4): validate the empty user password against
      // /U = hash(32) ‖ validation salt(8) ‖ key salt(8), then unwrap
      // the file key from /UE with the intermediate key (zero IV).
      val ue = str("UE")
      if (u.length < 48 || ue == null || ue.length < 32) return false
      val vSalt = java.util.Arrays.copyOfRange(u, 32, 40)
      val kSalt = java.util.Arrays.copyOfRange(u, 40, 48)
      val h = hash2B(r, Array.emptyByteArray, vSalt, Array.emptyByteArray)
      if (!java.util.Arrays.equals(h, u.take(32)))
        return false // empty user password rejected: password-required
      val ik = hash2B(r, Array.emptyByteArray, kSalt, Array.emptyByteArray)
      val fk =
        try aesCbc(ik, new Array[Byte](16), ue.take(32), encrypt = false)
        catch { case _: java.security.GeneralSecurityException => return false }
      doc.cryptKey = fk
      doc.cryptAes = true
      doc.cryptV5 = true
      return true
    }
    val n = if (v == 1) 5 else math.max(5, math.min(16, keyBits / 8))
    val id0 = doc.resolve(doc.trailer.getOrElse("ID", PNull)) match {
      case PArr(items) if items.nonEmpty => doc.resolve(items.head) match {
        case PStr(s) => s
        case _       => Array.emptyByteArray
      }
      case _ => Array.emptyByteArray
    }
    val key = fileKey(Array.emptyByteArray, o.take(32), p, id0, r, n, encMeta)
    val expU = userEntry(key, id0, r)
    val ok =
      if (r == 2) java.util.Arrays.equals(expU, u.take(32))
      else java.util.Arrays.equals(expU.take(16), u.take(16))
    if (!ok) return false // empty user password rejected: password-required
    doc.cryptKey = key
    doc.cryptAes = aes
    true
  } catch { case _: Damage => false }

  /** Forensic class for the decode_err taxonomy. */
  def decodeClass(b: Array[Byte]): String = {
    if (!isPdf(b)) return "not_pdf"
    extract(b) match {
      case null => "damaged"
      case t if t.cls == "encrypted" => "encrypted"
      case t if t.cls == "recovered_xref" => "recovered_xref"
      case t if t.pages.nonEmpty && t.pages.forall(_.isEmpty) => "image_only"
      case _ => "ok"
    }
  }

  // ---- synthetic writer ---------------------------------------------------

  /** Deterministic PDF writer — the decoder's pin (no PDF implementation
    * ships in this container; posture as for Vp8). One page per input
    * string; `profile` selects the structural variant:
    *
    *   0 — classic xref, FlateDecode content, literal strings
    *   1 — classic xref, uncompressed content, TJ kerning arrays
    *   2 — classic xref, LZWDecode content, hex strings
    *   3 — cross-reference STREAM (PNG Up predictor) + object stream
    *       holding every dictionary object
    *   4 — /ToUnicode CMap font: bytes are code+3, mapped back by a
    *       bfrange/bfchar CMap (FlateDecode content)
    *   5 — /Differences encoding (a→200, e→201 remap) + an INCREMENTAL
    *       UPDATE: the base file carries placeholder page-1 content, the
    *       appended section supersedes it via /Prev
    *
    * Every profile of the same input must extract to exactly the input
    * strings — the profile-independence the oracle checks.
    */
  def synthPdf(pages: Seq[String], profile: Int): Array[Byte] = {
    require(pages.nonEmpty && profile >= 0 && profile <= 10)
    profile match {
      case 3 => synthXrefStream(pages)
      case 5 => synthIncremental(pages)
      case 6 => synthEncryptedDoc(pages, 0, Array.emptyByteArray) // RC4 V1/R2
      case 7 => synthEncryptedDoc(pages, 1, Array.emptyByteArray) // RC4 V2/R3
      case 8 => synthEncryptedDoc(pages, 2, Array.emptyByteArray) // AESV2
      case 9 => synthEncryptedXref(pages) // RC4 over xref-stream + ObjStm
      case 10 => synthEncryptedDoc(pages, 3, Array.emptyByteArray) // AES-256 R6
      case p => synthClassic(pages, p)
    }
  }

  /** V5/R5 (the deprecated ExtensionLevel-3 single-SHA-256 form) —
    * spec-side fixture for the AES-256 reader path.
    */
  private[graft] def synthEncryptedV5R5(pages: Seq[String]): Array[Byte] =
    synthEncryptedDoc(pages, 4, Array.emptyByteArray)

  /** Password-REQUIRED AES-256/R6 document: the 2.B validation hash
    * must reject the empty user password.
    */
  private[graft] def synthEncrypted256(): Array[Byte] =
    synthEncryptedDoc(Seq("secret page"), 3, "letmein".getBytes(ISO_8859_1))

  private def escLiteral(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '(' => sb.append("\\(")
      case ')' => sb.append("\\)")
      case '\\' => sb.append("\\\\")
      case c if c >= 32 && c < 127 => sb.append(c)
      case c if c < 256 => sb.append(f"\\${c.toInt}%03o")
      case _ => sb.append('?') // out of Latin-1: not reachable from synth inputs
    }
    sb.toString
  }
  private def hexStr(s: String): String =
    "<" + s.map(c => f"${c.toInt & 0xFF}%02X").mkString + ">"

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Content stream for one page under the given profile's string form. */
  private def contentOps(text: String, profile: Int): String = {
    val shown = profile match {
      case 1 => // TJ array, 7-char chunks with kerning numbers between
        val chunks = text.grouped(7).map(c => "(" + escLiteral(c) + ")").toSeq
        "[" + chunks.mkString(" -120 ") + "] TJ"
      case 2 => hexStr(text) + " Tj"
      case 4 => // ToUnicode profile: bytes shifted +3
        val shifted = text.map(c => (c + 3).toChar)
        "(" + escLiteral(shifted) + ") Tj"
      case 5 => // Differences profile: a->200, e->201
        val remapped = text.map { case 'a' => 200.toChar; case 'e' => 201.toChar; case c => c }
        "(" + escLiteral(remapped) + ") Tj"
      case _ => "(" + escLiteral(text) + ") Tj"
    }
    s"BT /F1 12 Tf 72 720 Td $shown ET"
  }

  private def fontObj(profile: Int): String = profile match {
    case 4 => null // written as two objects (font + CMap stream) by caller
    case 5 =>
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding " +
        "<< /BaseEncoding /WinAnsiEncoding /Differences [200 /a 201 /e] >> >>"
    case _ =>
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"
  }

  /** The a–z + space CMap for profile 4: codes are char+3. bfrange
    * covers b..z (0x65..0x7D -> 0062); space and 'a' go through bfchar.
    */
  private val ToUnicodeCMap: String =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin
      |begincmap
      |/CMapName /Graft-Shift3 def
      |/CMapType 2 def
      |1 begincodespacerange
      |<00> <ff>
      |endcodespacerange
      |2 beginbfchar
      |<23> <0020>
      |<64> <0061>
      |endbfchar
      |1 beginbfrange
      |<65> <7d> <0062>
      |endbfrange
      |endcmap
      |CMapName currentdict /CMap defineresource pop
      |end
      |end""".stripMargin

  /** Serialize a body of numbered objects with a classic xref + trailer. */
  private final class Writer {
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
    def raw(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def rawb(b: Array[Byte]): Unit = out.write(b)
    def obj(num: Int, body: String): Unit = {
      offsets(num) = out.size.toLong
      raw(s"$num 0 obj\n$body\nendobj\n")
    }
    def streamObj(num: Int, dict: String, data: Array[Byte]): Unit = {
      offsets(num) = out.size.toLong
      raw(s"$num 0 obj\n<< $dict /Length ${data.length} >>\nstream\n")
      rawb(data)
      raw("\nendstream\nendobj\n")
    }
    /** Classic xref covering objects 1..maxNum contiguously. */
    def finishClassic(maxNum: Int, rootNum: Int, extra: String = ""): Array[Byte] = {
      val xrefOff = out.size.toLong
      raw(s"xref\n0 ${maxNum + 1}\n")
      raw(f"${0}%010d ${65535}%05d f \n")
      (1 to maxNum).foreach { n =>
        raw(f"${offsets.getOrElse(n, 0L)}%010d ${0}%05d n \n")
      }
      raw(s"trailer\n<< /Size ${maxNum + 1} /Root $rootNum 0 R$extra >>\nstartxref\n$xrefOff\n%%EOF\n")
      out.toByteArray
    }
  }

  private def writeHeader(w: Writer): Unit =
    w.raw("%PDF-1.6\n%âãÏÓ\n") // binary-comment marker line

  /** Page/pages/catalog/font/content objects shared by the classic
    * profiles. Object layout: 1 catalog, 2 pages, 3 font, then per page
    * i: (4+2i) page, (5+2i) content.
    */
  private def synthClassic(pages: Seq[String], profile: Int): Array[Byte] = {
    val w = new Writer
    writeHeader(w)
    val nPages = pages.length
    val kids = (0 until nPages).map(i => s"${4 + 2 * i} 0 R").mkString(" ")
    w.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    w.obj(2, s"<< /Type /Pages /Kids [$kids] /Count $nPages >>")
    var maxNum = 3 + 2 * nPages
    if (profile == 4) {
      val cmap = deflate(ToUnicodeCMap.getBytes(ISO_8859_1))
      w.obj(3, s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode ${maxNum + 1} 0 R >>")
      pagesAndContents(w, pages, profile)
      w.streamObj(maxNum + 1, "/Filter /FlateDecode", cmap)
      maxNum += 1
    } else {
      w.obj(3, fontObj(profile))
      pagesAndContents(w, pages, profile)
    }
    w.finishClassic(maxNum, 1)
  }

  private def pagesAndContents(w: Writer, pages: Seq[String], profile: Int): Unit =
    pages.zipWithIndex.foreach { case (text, i) =>
      val pageNum = 4 + 2 * i; val contNum = 5 + 2 * i
      w.obj(pageNum,
        s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 3 0 R >> >> /Contents $contNum 0 R >>")
      val ops = contentOps(text, profile).getBytes(ISO_8859_1)
      profile match {
        case 1 => w.streamObj(contNum, "", ops) // uncompressed
        case 2 => w.streamObj(contNum, "/Filter /LZWDecode", lzwEncode(ops))
        case _ => w.streamObj(contNum, "/Filter /FlateDecode", deflate(ops))
      }
    }

  /** Profile 3: every dictionary object lives in an ObjStm; the xref is
    * a /Type/XRef stream, FlateDecode + PNG Up predictor, W [1 4 2].
    */
  private def synthXrefStream(pages: Seq[String]): Array[Byte] = {
    val w = new Writer
    writeHeader(w)
    val nPages = pages.length
    // contiguous numbering: 1..3+n in the ObjStm, then objstm, xref,
    // and the content streams (streams can't live in an ObjStm)
    val objStmNum = 4 + nPages
    val xrefNum = 5 + nPages
    val contFirst = 6 + nPages
    pages.zipWithIndex.foreach { case (text, i) =>
      w.streamObj(contFirst + i, "/Filter /FlateDecode",
        deflate(contentOps(text, 0).getBytes(ISO_8859_1)))
    }
    val inStm: Seq[(Int, String)] =
      Seq(1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> s"<< /Type /Pages /Kids [${(0 until nPages).map(i => s"${4 + i} 0 R").mkString(" ")}] /Count $nPages >>",
        3 -> fontObj(0)) ++
        (0 until nPages).map(i => (4 + i) ->
          (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
            s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${contFirst + i} 0 R >>"))
    val bodies = inStm.map(_._2 + "\n")
    val offs = bodies.scanLeft(0)(_ + _.length)
    val header = inStm.zip(offs).map { case ((n, _), o) => s"$n $o" }.mkString(" ") + "\n"
    val stmData = (header + bodies.mkString).getBytes(ISO_8859_1)
    w.streamObj(objStmNum,
      s"/Type /ObjStm /N ${inStm.length} /First ${header.length} /Filter /FlateDecode",
      deflate(stmData))
    val maxNum = contFirst + nPages - 1
    val size = maxNum + 1
    // rows: type/field2/field3 per object 0..maxNum
    def row(tpe: Int, f2: Long, f3: Int): Array[Byte] =
      Array(tpe.toByte,
        ((f2 >> 24) & 0xFF).toByte, ((f2 >> 16) & 0xFF).toByte,
        ((f2 >> 8) & 0xFF).toByte, (f2 & 0xFF).toByte,
        ((f3 >> 8) & 0xFF).toByte, (f3 & 0xFF).toByte)
    val xrefOff = w.out.size.toLong
    val rows = (0 to maxNum).map { n =>
      if (n == 0) row(0, 0, 65535)
      else if (n >= 1 && n <= 3 + nPages)
        row(2, objStmNum, inStm.indexWhere(_._1 == n)) // in the ObjStm
      else if (n == objStmNum) row(1, w.offsets(objStmNum), 0)
      else if (n == xrefNum) row(1, xrefOff, 0)
      else row(1, w.offsets(n), 0) // content streams
    }
    // PNG Up predictor (tag 2): each row stored minus the previous row
    val rowLen = 7
    val pred = new java.io.ByteArrayOutputStream()
    var prev = new Array[Byte](rowLen)
    rows.foreach { r =>
      pred.write(2)
      (0 until rowLen).foreach(i => pred.write((r(i) - prev(i)) & 0xFF))
      prev = r
    }
    w.streamObj(xrefNum,
      s"/Type /XRef /Size $size /Root 1 0 R /W [1 4 2] /Index [0 $size] " +
        s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $rowLen >>",
      deflate(pred.toByteArray))
    w.raw(s"startxref\n$xrefOff\n%%EOF\n")
    w.out.toByteArray
  }

  /** Profile 5: classic base whose page-1 content is a placeholder, then
    * an appended incremental section (new content object + xref with
    * /Prev) that supersedes it with the real text.
    */
  private def synthIncremental(pages: Seq[String]): Array[Byte] = {
    val base = synthClassic(("graft placeholder page" +: pages.tail.map(_ => "x")).toList, 5)
    // locate base startxref offset
    val sx = lastIndexOf(base, "startxref".getBytes(ISO_8859_1))
    val baseXref = new Lex(base, sx + 9).token().toLong
    val out = new java.io.ByteArrayOutputStream()
    out.write(base)
    val maxNum = 3 + 2 * pages.length
    // rewrite EVERY page's content object at its original number
    val newOffsets = pages.zipWithIndex.map { case (text, i) =>
      val contNum = 5 + 2 * i
      val off = out.size.toLong
      val data = deflate(contentOps(text, 5).getBytes(ISO_8859_1))
      out.write((s"$contNum 0 obj\n<< /Filter /FlateDecode /Length ${data.length} >>\nstream\n")
        .getBytes(ISO_8859_1))
      out.write(data)
      out.write("\nendstream\nendobj\n".getBytes(ISO_8859_1))
      contNum -> off
    }
    val xrefOff = out.size.toLong
    val sb = new StringBuilder("xref\n")
    newOffsets.foreach { case (num, off) =>
      sb.append(s"$num 1\n").append(f"$off%010d ${0}%05d n \n")
    }
    sb.append(s"trailer\n<< /Size ${maxNum + 1} /Root 1 0 R /Prev $baseXref >>\n")
      .append(s"startxref\n$xrefOff\n%%EOF\n")
    out.write(sb.toString.getBytes(ISO_8859_1))
    out.toByteArray
  }

  /** REALLY-encrypted document (standard handler) whose pages only a
    * matching user password unlocks: `mode` 0 = RC4 V1/R2 (40-bit),
    * 1 = RC4 V2/R3 (128-bit), 2 = AESV2 V4/R4. With `userPw` empty
    * the document is the world-readable wild shape [[extract]]
    * decrypts; with a non-empty `userPw` it is the password-required
    * `encrypted` class.
    */
  private def synthEncryptedDoc(pages: Seq[String], mode: Int,
      userPw: Array[Byte]): Array[Byte] = {
    val (v, r, n) = mode match {
      case 0 => (1, 2, 5)
      case 1 => (2, 3, 16)
      case 2 => (4, 4, 16)
      case 3 => (5, 6, 32)
      case _ => (5, 5, 32)
    }
    val aes = mode >= 2
    val p = -44
    val id0 = md5(pages.mkString("|").getBytes(ISO_8859_1))
    // V5: the file key is random in the wild; deterministic here for
    // fixture reproducibility (security is not the synth writer's job)
    val keyV5: Array[Byte] =
      if (v == 5) md5(id0 ++ "graft k1".getBytes(ISO_8859_1)) ++
        md5(id0 ++ "graft k2".getBytes(ISO_8859_1))
      else null
    val ownerPw = "graft owner pw".getBytes(ISO_8859_1)
    val (o, key, u, ue, oe, perms) =
      if (v < 5) {
        val o0 = ownerEntry(ownerPw, userPw, r, n)
        val k0 = fileKey(userPw, o0, p, id0, r, n, encMeta = true)
        (o0, k0, userEntry(k0, id0, r), null, null, null)
      } else {
        // §7.6.4.4 Algorithms 8-10: U/UE from the user password,
        // O/OE from the owner password over the 48-byte U, /Perms
        // as AES-ECB of the P record under the file key
        // constant salts: per-doc salts would force a fresh 64-round
        // KDF per document for zero fixture value
        val vs = md5("graft vs".getBytes(ISO_8859_1)).take(8)
        val ks = md5("graft ks".getBytes(ISO_8859_1)).take(8)
        val u0 = hash2B(r, userPw, vs, Array.emptyByteArray) ++ vs ++ ks
        val ue0 = aesCbc(hash2B(r, userPw, ks, Array.emptyByteArray),
          new Array[Byte](16), keyV5, encrypt = true)
        val ovs = md5("graft ovs".getBytes(ISO_8859_1)).take(8)
        val oks = md5("graft oks".getBytes(ISO_8859_1)).take(8)
        val o0 = hash2B(r, ownerPw, ovs, u0) ++ ovs ++ oks
        val oe0 = aesCbc(hash2B(r, ownerPw, oks, u0),
          new Array[Byte](16), keyV5, encrypt = true)
        val permsPlain = le32(p) ++
          Array(0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte) ++
          "Tadb".getBytes(ISO_8859_1) ++
          md5("graft perms".getBytes(ISO_8859_1)).take(4)
        val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
        c.init(javax.crypto.Cipher.ENCRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(keyV5, "AES"))
        (o0, keyV5, u0, ue0, oe0, c.doFinal(permsPlain))
      }
    def hexB(bs: Array[Byte]): String =
      "<" + bs.map(b => f"${b & 0xFF}%02X").mkString + ">"
    def enc(num: Int, data: Array[Byte]): Array[Byte] = {
      val k = if (v == 5) key else objectKey(key, num, 0, aes)
      if (!aes) rc4(k, data)
      else {
        // deterministic IV: fixture reproducibility (security is not
        // the synth writer's job); PKCS#7 pad then CBC
        val iv = md5(s"graft iv $num".getBytes(ISO_8859_1)).take(16)
        val padLen = 16 - (data.length & 15)
        val padded = data ++ Array.fill(padLen)(padLen.toByte)
        iv ++ aesCbc(k, iv, padded, encrypt = true)
      }
    }
    val w = new Writer
    writeHeader(w)
    val nPages = pages.length
    val kids = (0 until nPages).map(i => s"${4 + 2 * i} 0 R").mkString(" ")
    w.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    w.obj(2, s"<< /Type /Pages /Kids [$kids] /Count $nPages >>")
    w.obj(3, fontObj(0))
    pages.zipWithIndex.foreach { case (text, i) =>
      val pageNum = 4 + 2 * i
      val contNum = 5 + 2 * i
      w.obj(pageNum,
        s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 3 0 R >> >> /Contents $contNum 0 R >>")
      w.streamObj(contNum, "/Filter /FlateDecode",
        enc(contNum, deflate(contentOps(text, 0).getBytes(ISO_8859_1))))
    }
    val encNum = 4 + 2 * nPages
    val encDict = v match {
      case 1 =>
        s"<< /Filter /Standard /V 1 /R 2 /O ${hexB(o)} /U ${hexB(u)} /P $p >>"
      case 2 =>
        s"<< /Filter /Standard /V 2 /R 3 /Length 128 /O ${hexB(o)} /U ${hexB(u)} /P $p >>"
      case 4 =>
        s"<< /Filter /Standard /V 4 /R 4 /Length 128 " +
          s"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> " +
          s"/StmF /StdCF /StrF /StdCF /O ${hexB(o)} /U ${hexB(u)} /P $p >>"
      case _ =>
        s"<< /Filter /Standard /V 5 /R $r /Length 256 " +
          s"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> " +
          s"/StmF /StdCF /StrF /StdCF /O ${hexB(o)} /U ${hexB(u)} " +
          s"/OE ${hexB(oe)} /UE ${hexB(ue)} /Perms ${hexB(perms)} /P $p >>"
    }
    w.obj(encNum, encDict)
    w.finishClassic(encNum, 1,
      extra = s" /Encrypt $encNum 0 R /ID [${hexB(id0)} ${hexB(id0)}]")
  }

  /** Password-REQUIRED encrypted document (standard handler, non-empty
    * user password): the `encrypted` forensic class — extraction
    * yields no pages because the empty-password check fails, not
    * because of a stub dictionary.
    */
  def synthEncrypted(): Array[Byte] =
    synthEncryptedDoc(Seq("secret page"), 1, "letmein".getBytes(ISO_8859_1))

  /** Profile 9: RC4 V2/R3 encryption OVER the stream-xref layout —
    * dictionary objects in an (encrypted) ObjStm, a /Type/XRef stream
    * (never encrypted, §7.5.8.2) whose dict carries /Encrypt + /ID,
    * and encrypted Flate content streams. The combination real
    * encrypted generator output ships: decrypt-then-inflate for the
    * container streams, with ObjStm members NOT re-decrypted.
    */
  private def synthEncryptedXref(pages: Seq[String]): Array[Byte] = {
    val (r, n) = (3, 16) // V2/R3 RC4 128-bit
    val p = -44
    val id0 = md5(pages.mkString("|").getBytes(ISO_8859_1))
    val o = ownerEntry("graft owner pw".getBytes(ISO_8859_1),
      Array.emptyByteArray, r, n)
    val key = fileKey(Array.emptyByteArray, o, p, id0, r, n, encMeta = true)
    val u = userEntry(key, id0, r)
    def hexB(bs: Array[Byte]): String =
      "<" + bs.map(b => f"${b & 0xFF}%02X").mkString + ">"
    def enc(num: Int, data: Array[Byte]): Array[Byte] =
      rc4(objectKey(key, num, 0, aes = false), data)
    val w = new Writer
    writeHeader(w)
    val nPages = pages.length
    val objStmNum = 4 + nPages
    val xrefNum = 5 + nPages
    val contFirst = 6 + nPages
    val encNum = contFirst + nPages
    pages.zipWithIndex.foreach { case (text, i) =>
      w.streamObj(contFirst + i, "/Filter /FlateDecode",
        enc(contFirst + i, deflate(contentOps(text, 0).getBytes(ISO_8859_1))))
    }
    val inStm: Seq[(Int, String)] =
      Seq(1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> s"<< /Type /Pages /Kids [${(0 until nPages).map(i => s"${4 + i} 0 R").mkString(" ")}] /Count $nPages >>",
        3 -> fontObj(0)) ++
        (0 until nPages).map(i => (4 + i) ->
          (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
            s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${contFirst + i} 0 R >>"))
    val bodies = inStm.map(_._2 + "\n")
    val offs = bodies.scanLeft(0)(_ + _.length)
    val header = inStm.zip(offs).map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
    val stmData = (header + bodies.mkString).getBytes(ISO_8859_1)
    // the ObjStm container stream IS encrypted (its members then are not)
    w.streamObj(objStmNum,
      s"/Type /ObjStm /N ${inStm.length} /First ${header.length} /Filter /FlateDecode",
      enc(objStmNum, deflate(stmData)))
    // the Encrypt dictionary: a DIRECT (non-ObjStm) object, never encrypted
    w.obj(encNum,
      s"<< /Filter /Standard /V 2 /R 3 /Length 128 /O ${hexB(o)} /U ${hexB(u)} /P $p >>")
    val maxNum = encNum
    val size = maxNum + 1
    def row(tpe: Int, f2: Long, f3: Int): Array[Byte] =
      Array(tpe.toByte,
        ((f2 >> 24) & 0xFF).toByte, ((f2 >> 16) & 0xFF).toByte,
        ((f2 >> 8) & 0xFF).toByte, (f2 & 0xFF).toByte,
        ((f3 >> 8) & 0xFF).toByte, (f3 & 0xFF).toByte)
    val xrefOff = w.out.size.toLong
    val rows = (0 to maxNum).map { num =>
      if (num == 0) row(0, 0, 65535)
      else if (num >= 1 && num <= 3 + nPages)
        row(2, objStmNum, inStm.indexWhere(_._1 == num))
      else if (num == xrefNum) row(1, xrefOff, 0)
      else row(1, w.offsets(num), 0)
    }
    val rowLen = 7
    val pred = new java.io.ByteArrayOutputStream()
    var prev = new Array[Byte](rowLen)
    rows.foreach { rr =>
      pred.write(2)
      (0 until rowLen).foreach(i => pred.write((rr(i) - prev(i)) & 0xFF))
      prev = rr
    }
    // the cross-reference stream itself is NEVER encrypted
    w.streamObj(xrefNum,
      s"/Type /XRef /Size $size /Root 1 0 R /Encrypt $encNum 0 R " +
        s"/ID [${hexB(id0)} ${hexB(id0)}] /W [1 4 2] /Index [0 $size] " +
        s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $rowLen >>",
      deflate(pred.toByteArray))
    w.raw(s"startxref\n$xrefOff\n%%EOF\n")
    w.out.toByteArray
  }

  /** One page whose content draws an XObject and shows no text: the
    * `image_only` forensic class.
    */
  def synthImageOnly(): Array[Byte] = {
    val w = new Writer
    writeHeader(w)
    w.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    w.obj(2, "<< /Type /Pages /Kids [4 0 R] /Count 1 >>")
    w.obj(3, fontObj(0))
    w.obj(4, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /XObject << /Im1 6 0 R >> >> /Contents 5 0 R >>")
    w.streamObj(5, "", "q 612 0 0 792 0 0 cm /Im1 Do Q".getBytes(ISO_8859_1))
    w.streamObj(6, "/Type /XObject /Subtype /Image /Width 2 /Height 2 " +
      "/ColorSpace /DeviceGray /BitsPerComponent 8", Array[Byte](0, 64, 127, -1))
    w.finishClassic(6, 1)
  }
}
