package graft.streaming

import java.nio.charset.StandardCharsets

/** MySQL's binary JSON column format (the in-table and in-binlog
  * representation of `JSON` columns, type code 245) — decoder + encoder,
  * written from the publicly documented layout (MySQL source
  * `sql/json_binary.h` header comment, which specifies the grammar):
  *
  * {{{
  * doc        ::= type value
  * value      ::= object | array | literal | number | string
  * object     ::= element-count size key-entry* value-entry* key* value*
  * array      ::= element-count size value-entry* value*
  * key-entry  ::= key-offset key-length(2)
  * value-entry::= type(1) offset-or-inlined-value
  * }}}
  *
  * element-count / size / offsets are 2 bytes in the SMALL variants
  * (types 0x00/0x02) and 4 bytes in the LARGE ones (0x01/0x03); offsets
  * are relative to the start of the object/array payload; `size` is the
  * payload's total byte length. Literals and 16-bit ints are inlined in
  * the value entry's offset field (32-bit ints too in the large
  * variants). String lengths are LEB128-style varints (7 bits per byte,
  * high bit continues).
  *
  * Scope: the scalar/object/array subset the engine's §1.2 ladder can
  * carry — null/true/false, signed/unsigned 16/32/64-bit ints, double,
  * utf8mb4 string, arbitrarily nested objects/arrays. Decimal/date/
  * opaque custom types (0x0f) surface as a loud decode error, never a
  * silent wrong value (same contract as [[MysqlBinlog.decodeValue]]).
  *
  * Decode renders CANONICAL JSON TEXT (compact, stored key order,
  * doubles via Double.toString exactly as [[MysqlBinlog.imageJson]]);
  * encode accepts JSON text, so a JSON column round-trips
  * text→binary→text through [[MysqlBinlogWriter]] and the parser.
  */
object MysqlJsonBinary {

  // type bytes (json_binary.h)
  private val SmallObject = 0x00
  private val LargeObject = 0x01
  private val SmallArray = 0x02
  private val LargeArray = 0x03
  private val Literal = 0x04
  private val Int16 = 0x05
  private val UInt16 = 0x06
  private val Int32 = 0x07
  private val UInt32 = 0x08
  private val Int64 = 0x09
  private val UInt64 = 0x0a
  private val DoubleT = 0x0b
  private val StringT = 0x0c

  private val LitNull = 0x00
  private val LitTrue = 0x01
  private val LitFalse = 0x02

  // -- minimal JSON value tree -----------------------------------------
  sealed trait JVal
  case object JNull extends JVal
  final case class JBool(b: Boolean) extends JVal
  final case class JInt(v: Long) extends JVal
  /** unsigned 64-bit (> Long.MaxValue) — decoder-side only */
  final case class JUInt(v: Long) extends JVal
  final case class JDouble(d: Double) extends JVal
  final case class JStr(s: String) extends JVal
  final case class JArr(items: Vector[JVal]) extends JVal
  final case class JObj(fields: Vector[(String, JVal)]) extends JVal

  final class JsonBinaryException(msg: String)
    extends RuntimeException(msg)

  // -- canonical text rendering ----------------------------------------
  def render(v: JVal): String = renderTo(new java.lang.StringBuilder, v).toString

  private def renderTo(sb: java.lang.StringBuilder,
                       v: JVal): java.lang.StringBuilder = v match {
    case JNull => sb.append("null")
    case JBool(b) => sb.append(if (b) "true" else "false")
    case JInt(n) => sb.append(n)
    case JUInt(n) => sb.append(java.lang.Long.toUnsignedString(n))
    case JDouble(d) =>
      if (d.isNaN || d.isInfinite) sb.append('"').append(d).append('"')
      else sb.append(d)
    case JStr(s) => quoteTo(sb, s)
    case JArr(items) =>
      sb.append('[')
      items.indices.foreach { i =>
        if (i > 0) sb.append(',')
        renderTo(sb, items(i))
      }
      sb.append(']')
    case JObj(fields) =>
      sb.append('{')
      fields.indices.foreach { i =>
        if (i > 0) sb.append(',')
        renderTo(quoteTo(sb, fields(i)._1).append(':'), fields(i)._2)
      }
      sb.append('}')
  }

  private val HexDigits = "0123456789abcdef"

  /** Append `s` as a quoted JSON string — the ONE escaper of the binlog
    * decode path (binary-JSON rendering here, row images in
    * [[MysqlBinlog.imageJson]]): the short escapes `\"` `\\` `\n`
    * `\r` `\t`, lowercase `\u00xx` for every other char below 0x20,
    * every other char (U+2028, surrogates) verbatim. Runs of verbatim
    * chars are copied in bulk.
    */
  private[streaming] def quoteTo(sb: java.lang.StringBuilder,
                                 s: String): java.lang.StringBuilder = {
    sb.append('"')
    var from = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch < ' ' || ch == '"' || ch == '\\') {
        sb.append(s, from, i)
        ch match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case _ =>
            sb.append("\\u00").append(HexDigits.charAt(ch >> 4))
              .append(HexDigits.charAt(ch & 0xf))
        }
        from = i + 1
      }
      i += 1
    }
    sb.append(s, from, s.length).append('"')
  }

  // -- JSON text parser (recursive descent, no dependencies) -----------
  /** Parse JSON text into the value tree. Numbers without `.`/`e` that
    * fit a Long become [[JInt]]; everything else numeric is [[JDouble]].
    */
  def parseText(s: String): JVal = {
    val p = new TextCur(s)
    p.ws()
    val v = p.value()
    p.ws()
    if (p.i < s.length)
      throw new JsonBinaryException(s"trailing content at ${p.i} in: $s")
    v
  }

  private final class TextCur(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def fail(msg: String) =
      throw new JsonBinaryException(s"$msg at $i in: $s")
    private def expect(c: Char): Unit =
      if (i < s.length && s.charAt(i) == c) i += 1 else fail(s"expected '$c'")
    def value(): JVal = {
      if (i >= s.length) fail("unexpected end")
      s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => JStr(str())
        case 't' => lit("true", JBool(true))
        case 'f' => lit("false", JBool(false))
        case 'n' => lit("null", JNull)
        case _ => num()
      }
    }
    private def lit(word: String, v: JVal): JVal =
      if (s.regionMatches(i, word, 0, word.length)) { i += word.length; v }
      else fail(s"bad literal (want $word)")
    private def obj(): JVal = {
      expect('{'); ws()
      if (i < s.length && s.charAt(i) == '}') { i += 1; return JObj(Vector.empty) }
      val b = Vector.newBuilder[(String, JVal)]
      var more = true
      while (more) {
        ws(); val k = str(); ws(); expect(':'); ws()
        b += (k -> value()); ws()
        if (i < s.length && s.charAt(i) == ',') i += 1 else more = false
      }
      expect('}')
      JObj(b.result())
    }
    private def arr(): JVal = {
      expect('['); ws()
      if (i < s.length && s.charAt(i) == ']') { i += 1; return JArr(Vector.empty) }
      val b = Vector.newBuilder[JVal]
      var more = true
      while (more) {
        ws(); b += value(); ws()
        if (i < s.length && s.charAt(i) == ',') i += 1 else more = false
      }
      expect(']')
      JArr(b.result())
    }
    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        s.charAt(i) match {
          case '\\' =>
            i += 1
            if (i >= s.length) fail("dangling escape")
            s.charAt(i) match {
              case '"' => b += '"'; case '\\' => b += '\\'
              case '/' => b += '/'; case 'b' => b += '\b'
              case 'f' => b += '\f'; case 'n' => b += '\n'
              case 'r' => b += '\r'; case 't' => b += '\t'
              case 'u' =>
                if (i + 4 >= s.length) fail("short \\u escape")
                b += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
                i += 4
              case c => fail(s"bad escape \\$c")
            }
            i += 1
          case c => b += c; i += 1
        }
      }
      expect('"')
      b.result()
    }
    private def num(): JVal = {
      val start = i
      if (i < s.length && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      var isDouble = false
      while (i < s.length && (s.charAt(i).isDigit || "+-.eE".contains(s.charAt(i)))) {
        if (".eE".contains(s.charAt(i))) isDouble = true
        i += 1
      }
      val raw = s.substring(start, i)
      if (raw.isEmpty || raw == "-") fail("bad number")
      if (isDouble) JDouble(raw.toDouble)
      else raw.toLongOption.map(JInt).getOrElse(JDouble(raw.toDouble))
    }
  }

  // -- binary decode ----------------------------------------------------
  /** Decode a binary JSON document (type byte + value) to canonical
    * text. A ZERO-LENGTH document decodes to "null" — the server writes
    * an empty value for a JSON column set to NULL inside a non-null row
    * image context (defensive; real NULLs ride the row's null bitmap).
    */
  def decode(doc: Array[Byte]): String =
    if (doc.isEmpty) "null" else render(decodeValue(doc))

  def decodeValue(doc: Array[Byte]): JVal = {
    if (doc.isEmpty) return JNull
    // a corrupt doc whose offsets/lengths point past the payload
    // indexes out of the array — classify it, the same loud refusal
    // every other malformed shape gets
    try value(doc(0) & 0xff, doc, 1, doc.length, 0)
    catch {
      case e: IndexOutOfBoundsException => throw new JsonBinaryException(
        s"truncated or corrupt binary JSON document (${e.getMessage})")
    }
  }

  private def u16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], p: Int): Long =
    (u16(b, p).toLong | (u16(b, p + 2).toLong << 16)) & 0xffffffffL
  private def i64(b: Array[Byte], p: Int): Long =
    u32(b, p) | (u32(b, p + 4) << 32)

  /** LEB128-ish varint (string length): 7 bits per byte, high bit set =
    * more bytes follow. Returns (value, bytesRead).
    */
  private def varlen(b: Array[Byte], p: Int): (Int, Int) = {
    var v = 0L; var i = 0
    var done = false
    while (!done) {
      if (i >= 5 || p + i >= b.length)
        throw new JsonBinaryException("bad varint string length")
      val x = b(p + i) & 0xff
      v |= (x & 0x7f).toLong << (7 * i)
      i += 1
      done = (x & 0x80) == 0
    }
    (v.toInt, i)
  }

  /** Server-side nesting limit (sql/json_dom.h JSON_DOCUMENT_MAX_DEPTH
    * is 100): a document deeper than this cannot come from a real
    * column, and a corrupt offset CYCLE (a container pointing back
    * into itself) would otherwise recurse without bound.
    */
  private val MaxDepth = 100

  /** Decode the value with type `t` whose payload starts at `p` and may
    * not extend past `end` (the enclosing container's bound).
    */
  private def value(t: Int, b: Array[Byte], p: Int, end: Int,
                    depth: Int): JVal = t match {
    case Literal => (b(p) & 0xff) match {
      case LitNull => JNull
      case LitTrue => JBool(true)
      case LitFalse => JBool(false)
      case x => throw new JsonBinaryException(s"bad literal byte 0x${x.toHexString}")
    }
    case Int16 => JInt(u16(b, p).toShort.toLong)
    case UInt16 => JInt(u16(b, p).toLong)
    case Int32 => JInt(u32(b, p).toInt.toLong)
    case UInt32 => JInt(u32(b, p))
    case Int64 => JInt(i64(b, p))
    case UInt64 =>
      val v = i64(b, p)
      if (v >= 0) JInt(v) else JUInt(v)
    case DoubleT => JDouble(java.lang.Double.longBitsToDouble(i64(b, p)))
    case StringT =>
      val (len, n) = varlen(b, p)
      if (p + n + len > end)
        throw new JsonBinaryException("string runs past container bound")
      JStr(new String(b, p + n, len, StandardCharsets.UTF_8))
    case SmallObject | LargeObject | SmallArray | LargeArray =>
      val large = t == LargeObject || t == LargeArray
      val w = if (large) 4 else 2
      def off(q: Int): Int =
        (if (large) u32(b, q) else u16(b, q).toLong).toInt
      if (depth >= MaxDepth)
        throw new JsonBinaryException(
          s"container nesting beyond $MaxDepth levels — corrupt offsets " +
            "(cycle) or a document no server would write")
      val count = off(p)
      val size = off(p + w)
      if (p + size > end)
        throw new JsonBinaryException("container size runs past bound")
      // each entry costs at least its (type, offset) cell: a count
      // beyond that is a corrupt header, not a big document
      if (count < 0 || count.toLong * (1 + w) > size)
        throw new JsonBinaryException(
          s"container declares $count entries in $size bytes")
      val isObj = t == SmallObject || t == LargeObject
      val entriesStart = p + 2 * w + (if (isObj) count * (w + 2) else 0)
      def entry(k: Int): JVal = {
        val ep = entriesStart + k * (1 + w)
        val et = b(ep) & 0xff
        et match {
          // inlined in the offset field: literals + 16-bit ints always,
          // 32-bit ints in the large variants
          case Literal | Int16 | UInt16 =>
            value(et, b, ep + 1, ep + 1 + w, depth + 1)
          case Int32 | UInt32 if large =>
            value(et, b, ep + 1, ep + 1 + w, depth + 1)
          case _ => value(et, b, p + off(ep + 1), p + size, depth + 1)
        }
      }
      if (isObj) {
        val fields = Vector.tabulate(count) { k =>
          val kp = p + 2 * w + k * (w + 2)
          val keyOff = off(kp)
          val keyLen = u16(b, kp + w)
          val key = new String(b, p + keyOff, keyLen, StandardCharsets.UTF_8)
          key -> entry(k)
        }
        JObj(fields)
      } else JArr(Vector.tabulate(count)(entry))
    case x => throw new JsonBinaryException(
      f"unsupported binary JSON type 0x$x%02x (decimal/temporal/opaque " +
        "not in the engine's ladder)")
  }

  // -- binary encode ----------------------------------------------------
  /** Encode JSON text to the binary document (type byte + value),
    * choosing the small container variants whenever counts and size fit
    * 16 bits — what the server does.
    */
  def encode(text: String): Array[Byte] = encodeValue(parseText(text))

  def encodeValue(v: JVal): Array[Byte] = {
    val (t, payload) = enc(v)
    val out = new Array[Byte](1 + payload.length)
    out(0) = t.toByte
    System.arraycopy(payload, 0, out, 1, payload.length)
    out
  }

  private final class Buf {
    val b = new java.io.ByteArrayOutputStream(64)
    def u8(v: Int): Buf = { b.write(v & 0xff); this }
    def u16(v: Int): Buf = { u8(v); u8(v >> 8) }
    def u32(v: Long): Buf = { u16(v.toInt); u16((v >> 16).toInt) }
    def i64(v: Long): Buf = { u32(v); u32(v >>> 32) }
    def raw(a: Array[Byte]): Buf = { b.write(a); this }
    def varlen(v: Int): Buf = {
      var x = v
      while (x > 0x7f) { u8((x & 0x7f) | 0x80); x >>= 7 }
      u8(x)
    }
    def bytes: Array[Byte] = b.toByteArray
  }

  /** (type byte, payload bytes) of one value. */
  private def enc(v: JVal): (Int, Array[Byte]) = v match {
    case JNull => (Literal, Array(LitNull.toByte))
    case JBool(true) => (Literal, Array(LitTrue.toByte))
    case JBool(false) => (Literal, Array(LitFalse.toByte))
    case JInt(n) =>
      if (n >= Short.MinValue && n <= Short.MaxValue)
        (Int16, new Buf().u16(n.toInt).bytes)
      else if (n >= Int.MinValue && n <= Int.MaxValue)
        (Int32, new Buf().u32(n).bytes)
      else (Int64, new Buf().i64(n).bytes)
    case JUInt(n) => (UInt64, new Buf().i64(n).bytes)
    case JDouble(d) =>
      (DoubleT, new Buf().i64(java.lang.Double.doubleToLongBits(d)).bytes)
    case JStr(s) =>
      val raw = s.getBytes(StandardCharsets.UTF_8)
      (StringT, new Buf().varlen(raw.length).raw(raw).bytes)
    case JArr(items) => container(isObj = false, items.map(("", _)))
    case JObj(fields) => container(isObj = true, fields)
  }

  /** Inlined in the value entry? (16-bit ints + literals always; 32-bit
    * ints only when the container is large.)
    */
  private def inlined(t: Int, large: Boolean): Boolean = t match {
    case Literal | Int16 | UInt16 => true
    case Int32 | UInt32 => large
    case _ => false
  }

  private def container(isObj: Boolean,
                        fields: Vector[(String, JVal)]): (Int, Array[Byte]) = {
    val encoded = fields.map { case (k, x) => (k, enc(x)) }
    def build(large: Boolean): Array[Byte] = {
      val w = if (large) 4 else 2
      val keyBytes = encoded.map(_._1.getBytes(StandardCharsets.UTF_8))
      val headLen = 2 * w + (if (isObj) encoded.length * (w + 2) else 0) +
        encoded.length * (1 + w)
      // lay out keys then non-inlined values, tracking offsets
      var cursor = headLen
      val keyOffs = keyBytes.map { kb =>
        val o = cursor; cursor += kb.length; o
      }
      val valOffs = encoded.map { case (_, (t, payload)) =>
        if (inlined(t, large)) -1
        else { val o = cursor; cursor += payload.length; o }
      }
      val size = cursor
      val buf = new Buf()
      def off(v: Long): Unit = { if (large) buf.u32(v) else buf.u16(v.toInt); () }
      off(encoded.length.toLong)
      off(size.toLong)
      if (isObj) keyBytes.zip(keyOffs).foreach { case (kb, o) =>
        off(o.toLong); buf.u16(kb.length)
      }
      encoded.zip(valOffs).foreach { case ((_, (t, payload)), o) =>
        buf.u8(t)
        if (o < 0) {
          // inlined: the payload occupies the offset field (zero-padded)
          buf.raw(payload)
          (payload.length until w).foreach(_ => buf.u8(0))
        } else off(o.toLong)
      }
      keyBytes.foreach(buf.raw)
      encoded.zip(valOffs).foreach { case ((_, (_, payload)), o) =>
        if (o >= 0) buf.raw(payload)
      }
      buf.bytes
    }
    val small = build(large = false)
    val fitsSmall = encoded.length <= 0xffff && small.length <= 0xffff &&
      // a small container must also not need 32-bit offsets anywhere;
      // small.length <= 0xffff already guarantees that
      encoded.forall { case (k, _) =>
        k.getBytes(StandardCharsets.UTF_8).length <= 0xffff }
    if (fitsSmall)
      ((if (isObj) SmallObject else SmallArray), small)
    else
      ((if (isObj) LargeObject else LargeArray), build(large = true))
  }
}
