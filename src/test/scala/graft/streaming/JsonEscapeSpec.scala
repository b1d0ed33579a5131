package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import MysqlBinlog._
import MysqlBinlogWriter.{Col, TableDef, Writer}
import MysqlJsonBinary._

/** The binlog decode path's one JSON string escaper
  * ([[MysqlJsonBinary.quoteTo]]) against the per-char `flatMap`
  * escaper it replaced, kept here verbatim as the reference: the
  * rendered payloads feed hashed oracle outputs and persisted state, so
  * the output must not move by a single byte.
  */
class JsonEscapeSpec extends AnyFunSuite {

  // -- the replaced renderers, verbatim --------------------------------
  private def refQuote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  private def refRender(v: JVal): String = v match {
    case JNull => "null"
    case JBool(b) => if (b) "true" else "false"
    case JInt(n) => n.toString
    case JUInt(n) => java.lang.Long.toUnsignedString(n)
    case JDouble(d) =>
      if (d.isNaN || d.isInfinite) "\"" + d.toString + "\"" else d.toString
    case JStr(s) => refQuote(s)
    case JArr(items) => items.map(refRender).mkString("[", ",", "]")
    case JObj(fields) =>
      fields.map { case (k, x) => refQuote(k) + ":" + refRender(x) }
        .mkString("{", ",", "}")
  }

  private def refImageJson(tm: TableMap, img: RowImage): String = {
    val names = tm.colNames.getOrElse(
      Array.tabulate(tm.colTypes.length)(i => s"col_$i"))
    val fields = img.values.iterator.zipWithIndex.collect {
      case (Some(v), i) =>
        val rendered = v match {
          case null => "null"
          case l: java.lang.Long => l.toString
          case d: java.lang.Double =>
            if (d.isNaN || d.isInfinite) "\"" + d.toString + "\"" else d.toString
          case f: java.lang.Float =>
            if (f.isNaN || f.isInfinite) "\"" + f.toString + "\"" else f.toString
          case b: Array[Byte] =>
            "\"" + java.util.Base64.getEncoder.encodeToString(b) + "\""
          case bd: java.math.BigDecimal => "\"" + bd.toPlainString + "\""
          case s: String => refQuote(s)
          case other => refQuote(other.toString)
        }
        refQuote(names(i)) + ":" + rendered
    }
    fields.mkString("{", ",", "}")
  }

  private def quote(s: String): String =
    MysqlJsonBinary.quoteTo(new java.lang.StringBuilder, s).toString

  /** Same chars AND the same UTF-8 bytes (the latter is what lands in
    * parquet state and sink rows).
    */
  private def assertSame(got: String, want: String, input: String): Unit = {
    assert(got == want, s"escaper diverged on ${input.map(_.toInt)}")
    assert(java.util.Arrays.equals(got.getBytes(StandardCharsets.UTF_8),
      want.getBytes(StandardCharsets.UTF_8)))
  }

  test("escaper equals the per-char reference on ASCII, quotes, " +
      "U+2028, surrogates and 10k random strings") {
    (0 to 0x7f).foreach { c =>
      val s = c.toChar.toString
      assertSame(quote(s), refQuote(s), s)
      val framed = s"a${c.toChar}b${c.toChar}"
      assertSame(quote(framed), refQuote(framed), framed)
    }
    Seq("\"", "\\", "\\\"", "\u2028", "x y", "😀", "a😀\u0001b",
        "\ud83d", "\ude00x", "", "plain").foreach { s =>
      assertSame(quote(s), refQuote(s), s)
    }
    assert(quote("\u0001\u001f") == "\"\\u0001\\u001f\"",
      "control chars render as lowercase \\u00xx")
    val rng = new scala.util.Random(20261017L)
    val pool = Array('"', '\\', '\n', '\r', '\t', '\b', '\f', '\u0000',
      '\u001f', '\u007f', '\u2028', 'a', 'Z', ' ', 'µ', '中')
    (1 to 10000).foreach { _ =>
      val n = rng.nextInt(40)
      val s = (0 until n).map { _ =>
        rng.nextInt(4) match {
          case 0 => pool(rng.nextInt(pool.length))
          case 1 => rng.nextInt(0x80).toChar
          case 2 => rng.nextInt(0x10000).toChar // lone surrogates too
          case _ => ('a' + rng.nextInt(26)).toChar
        }
      }.mkString
      assertSame(quote(s), refQuote(s), s)
    }
  }

  test("render of a nested binary-JSON document with escapes is unchanged") {
    val text =
      "{\"a\\\"b\":[1,-2,3.5,\"tab\\there\",{\"nl\":\"x\\ny\"," +
        "\"ctl\":\"\\u0001\\u001f\"}],\"back\\\\slash\":" +
        "{\"deep\":[[null,true,false,\"q\\\"uote\"]]},\"u\":\"\u2028😀\"," +
        "\"big\":18446744073709551615,\"e\":1.0E300}"
    val v = decodeValue(encode(text))
    assertSame(render(v), refRender(v), text)
    assert(render(v).contains("\\u0001\\u001f"))
  }

  test("imageJson of decoded row images is unchanged, JSON columns " +
      "and control chars included") {
    val base = Files.createTempDirectory("graft_json_escape_").toString
    val log = s"$base/bin.000001"
    val td = TableDef(7L, "graft", "esc", Seq(
      Col.bigint("k"), Col.varchar("s", 255), Col.json("doc"),
      Col.double("d"), Col.decimal("m", 10, 2), Col.blob("b")))
    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L); w.begin()
    val rng = new scala.util.Random(7L)
    val pool = Seq("a", "\"", "\\", "\n", "\r", "\t", "\u0001", "\u001f",
      "\u2028", "😀", "中", " ")
    def str(n: Int) = (0 until n).map(_ => pool(rng.nextInt(pool.length))).mkString
    val rows = (1L to 200L).map { k =>
      val doc = s"""{"s":${refQuote(str(6))},"n":[$k,${k * 0.5},{"x":null}]}"""
      val blob = new Array[Byte](rng.nextInt(20)); rng.nextBytes(blob)
      Array[AnyRef](java.lang.Long.valueOf(k), str(rng.nextInt(30)), doc,
        java.lang.Double.valueOf(if (k % 50 == 0) Double.NaN else k / 3.0),
        new java.math.BigDecimal(java.math.BigInteger.valueOf(k * 101), 2),
        if (k % 7 == 0) null else blob)
    }
    rows.grouped(20).zipWithIndex.foreach { case (g, i) =>
      w.tableMap(td); w.writeRows(td, g); w.xid(i.toLong)
    }
    w.tableMap(td)
    w.updateRows(td, Seq((rows(0), rows(1))),
      beforePresent = Some(Set(0)), afterPresent = Some(Set(1, 2)))
    w.xid(99L)
    w.close()
    val events = parse(Files.readAllBytes(java.nio.file.Paths.get(log)))
    val tms = events.collect { case tm: TableMap => tm.tableId -> tm }.toMap
    var images = 0
    events.foreach {
      case re: RowsEvent =>
        re.rows.foreach { case (b, a) =>
          (b.toSeq ++ a.toSeq).foreach { img =>
            val tm = tms(re.tableId)
            assertSame(imageJson(tm, img), refImageJson(tm, img), img.toString)
            images += 1
          }
        }
      case _ => ()
    }
    assert(images == 202)
  }
}
