package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

/** XLSX cell extraction — the tabular member of the office tier:
  * spreadsheets carry a large share of the STRUCTURED data a crawl
  * surfaces, and their values live behind the SpreadsheetML indirection
  * that makes naive text extraction wrong: string cells don't hold
  * strings, they hold INDEXES into the shared-strings table (the
  * workbook-wide dedup pool), so a correct reader must join the two
  * parts. On top of [[Zip.decode]]:
  *
  *   - `xl/sharedStrings.xml`: each `<si>` is one pooled string — plain
  *     `<t>` or RICH-RUN `<r><t>` fragments, concatenated in order
  *     (formatting splits must not split the text), entities via the
  *     shared [[Html.reference]] decoder, local-name tag matching
  *   - `xl/worksheets/sheet1.xml`: each `<c r="A1" t="…">` emits one
  *     cell — `t="s"` resolves `<v>` as a shared-string index
  *     (out-of-range quarantines the CELL to an empty value, not the
  *     sheet), `t="inlineStr"` takes the `<is><t>` text, `t="b"`
  *     renders TRUE/FALSE, `t="str"` is a formula's cached string, no
  *     `t` is the raw numeric text (emitted verbatim — re-formatting
  *     floats is how spreadsheet readers corrupt data)
  *   - cells without `r` refs or without values are skipped; absent
  *     parts → None (not an XLSX), missing sharedStrings with no `s`
  *     cells is fine (the part is optional)
  *   - a [[Codec]]: many cells may name one pooled string, so the cell
  *     values count against [[Codec.MaxDecodedBytes]] as emitted, on top
  *     of the archive's own bound
  */
object Xlsx extends Codec {

  type Out = Seq[Cell]

  final case class Cell(ref: String, kind: String, value: String)

  def decode(bytes: Array[Byte]): Option[Seq[Cell]] =
    Zip.decode(bytes).flatMap { ms =>
      ms.find(_.name == "xl/worksheets/sheet1.xml").map { sheet =>
        val shared = ms.find(_.name == "xl/sharedStrings.xml")
          .map(m => sharedStrings(new String(m.content, UTF_8)))
          .getOrElse(Vector.empty)
        sheetCells(new String(sheet.content, UTF_8), shared)
      }
    }.filter(_.iterator.map(_.value.length.toLong).sum <= Codec.MaxDecodedBytes)

  /** `<si>` entries in order; rich runs concatenated. */
  private[llm] def sharedStrings(xml: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val buf = new StringBuilder
    var inSi = false
    var inT = false
    walk(xml) {
      case TagEvent(name, closing, selfClosing) =>
        name match {
          case "si" =>
            if (!closing) { buf.clear(); inSi = true }
            else { out += buf.toString; inSi = false }
          case "t" if inSi => inT = !closing && !selfClosing
          case _ => ()
        }
      case TextEvent(s) => if (inSi && inT) buf ++= s
      case AttrEvent(_) => () // namespace decls etc. carry no pooled text
    }
    out.result()
  }

  /** One worksheet's cells against the shared pool. */
  private[llm] def sheetCells(xml: String, shared: Vector[String]): Seq[Cell] = {
    val out = ArrayBuffer.empty[Cell]
    var ref = ""
    var typ = ""
    var inC = false
    var inV = false
    var inIsT = false
    val buf = new StringBuilder
    def emit(): Unit = {
      if (ref.nonEmpty && buf.nonEmpty) {
        val (kind, value) = typ match {
          case "s" =>
            val idx = try buf.toString.trim.toInt catch { case _: NumberFormatException => -1 }
            ("shared", if (idx >= 0 && idx < shared.length) shared(idx) else "")
          case "inlineStr" => ("inline", buf.toString)
          case "b" => ("bool", if (buf.toString.trim == "1") "TRUE" else "FALSE")
          case "str" => ("formula", buf.toString)
          case _ => ("num", buf.toString.trim)
        }
        out += Cell(ref, kind, value)
      }
      ref = ""; typ = ""; buf.clear()
    }
    walk(xml) {
      case TagEvent(name, closing, selfClosing) =>
        name match {
          case "c" =>
            if (!closing) {
              emit() // a dangling unclosed cell flushes best-effort
              ref = ""; typ = ""; buf.clear()
              inC = true
            } else { emit(); inC = false }
            inV = false; inIsT = false
          case "v" if inC => inV = !closing && !selfClosing
          case "t" if inC => inIsT = !closing && !selfClosing
          case _ => ()
        }
      case TextEvent(s) => if (inV || inIsT) buf ++= s
      case AttrEvent(attrs) =>
        if (inC && ref.isEmpty) {
          ref = Html.attrLookup(attrs, "r").getOrElse("")
          typ = Html.attrLookup(attrs, "t").getOrElse("")
        }
    }
    out.toSeq
  }

  // -- minimal event walk shared by the two part parsers ----------------
  private sealed trait Event
  private final case class TagEvent(local: String, closing: Boolean,
      selfClosing: Boolean) extends Event
  private final case class TextEvent(s: String) extends Event
  private final case class AttrEvent(attrs: String) extends Event

  private def walk(xml: String)(f: Event => Unit): Unit = {
    if (xml == null) return
    val n = xml.length
    var i = 0
    while (i < n) {
      val c = xml.charAt(i)
      if (c == '<') {
        if (xml.regionMatches(i, "<!--", 0, 4)) {
          val close = xml.indexOf("-->", i + 4)
          i = if (close < 0) n else close + 3
        } else if (xml.regionMatches(i, "<?", 0, 2)) {
          val close = xml.indexOf("?>", i + 2)
          i = if (close < 0) n else close + 2
        } else {
          val gt = xml.indexOf('>', i)
          val end = if (gt < 0) n else gt
          val rawTag = xml.substring(i + 1, end)
          val closing = rawTag.startsWith("/")
          val selfClosing = rawTag.endsWith("/")
          val body = if (closing) rawTag.substring(1) else rawTag
          var e = body.length
          var j = 0
          var done = false
          while (j < body.length && !done) {
            val ch = body.charAt(j)
            if (ch == ' ' || ch == '\t' || ch == '\n' || ch == '\r' || ch == '/') {
              e = j; done = true
            } else j += 1
          }
          var st = 0
          j = 0
          while (j < e) { if (body.charAt(j) == ':') st = j + 1; j += 1 }
          val name = body.substring(st, e).toLowerCase
          f(TagEvent(name, closing, selfClosing))
          if (!closing && e < body.length) f(AttrEvent(body.substring(e)))
          i = if (gt < 0) n else gt + 1
        }
      } else if (c == '&') {
        val (decoded, next) = Html.reference(xml, i)
        f(TextEvent(decoded))
        i = next
      } else {
        f(TextEvent(c.toString))
        i += 1
      }
    }
  }

  // ---------------------------------------------------------------- build

  /** Deterministic fixture writer: a structurally honest minimal .xlsx
    * ([Content_Types], workbook, sharedStrings, sheet1). `cellsSpec`
    * rows are (ref, tAttr, body) written verbatim into `<c>` elements. */
  def build(shared: Seq[String], cellsSpec: Seq[(String, String, String)]): Array[Byte] = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val sst = "<?xml version=\"1.0\"?><sst xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">" +
      shared.map(s => s"<si><t>${esc(s)}</t></si>").mkString + "</sst>"
    val rows = cellsSpec.map { case (ref, t, body) =>
      val tAttr = if (t.isEmpty) "" else s""" t="$t""""
      s"""<c r="$ref"$tAttr>$body</c>"""
    }.mkString
    val sheet = "<?xml version=\"1.0\"?><worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">" +
      s"<sheetData><row r=\"1\">$rows</row></sheetData></worksheet>"
    Zip.build(Seq(
      ("[Content_Types].xml", "<Types/>".getBytes(UTF_8), false),
      ("xl/workbook.xml", "<workbook/>".getBytes(UTF_8), false),
      ("xl/sharedStrings.xml", sst.getBytes(UTF_8), false),
      ("xl/worksheets/sheet1.xml", sheet.getBytes(UTF_8), false)))
  }
}
