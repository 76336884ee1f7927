package graft.llm

import graft.SparkSpec

class PdfSpec extends SparkSpec {

  private val page1 =
    "BT /F1 12 Tf 72 720 Td (Hello doc 7) Tj T* [(kerned ) -120 (text 7)] TJ ET"
  private val page2 =
    "BT 72 720 Td (Page two \\(escaped\\) of 7) Tj ET"

  test("raw and flate builds extract identical text; nFlate counts") {
    val raw = Pdf.decode(Pdf.build(Seq(page1, page2), flate = false)).get
    val fl = Pdf.decode(Pdf.build(Seq(page1, page2), flate = true)).get
    assert(raw.text == "Hello doc 7\nkerned text 7\nPage two (escaped) of 7")
    assert(fl.text == raw.text)
    assert(raw.nPages == 2 && fl.nPages == 2)
    assert(raw.nFlate == 0 && fl.nFlate == 2)
  }

  test("text operators: hex strings, quote op, nested parens, octal") {
    val ops = "BT (a(nested)b) Tj <2048455821> Tj (line1) Tj (next)' (\\101\\102) Tj ET"
    val e = Pdf.decode(Pdf.build(Seq(ops), flate = false)).get
    // ' is next-line-show; octal \101\102 = AB
    assert(e.text == "a(nested)b HEX!line1\nnextAB")
    assert(e.nPages == 1)
  }

  test("strings outside BT..ET do not show; positioning runs suppress dup breaks") {
    val ops = "(graphics op operand) Tj BT (x) Tj Td TD T* (y) Tj ET"
    val e = Pdf.decode(Pdf.build(Seq(ops), flate = false)).get
    assert(e.text == "x\ny") // three breaks collapse to one
  }

  test("quarantine: non-PDF, corrupt deflate, unsupported filter") {
    assert(Pdf.decode(null).isEmpty)
    assert(Pdf.decode("not a pdf at all".getBytes).isEmpty)
    // corrupt the flate payload: stream skipped, structure survives
    val good = Pdf.build(Seq(page1), flate = true)
    val sAt = new String(good, java.nio.charset.StandardCharsets.ISO_8859_1)
      .indexOf("stream\n") + 7
    val bad = good.clone()
    bad(sAt) = (bad(sAt) ^ 0x55).toByte
    bad(sAt + 1) = (bad(sAt + 1) ^ 0x55).toByte
    val e = Pdf.decode(bad).get
    assert(e.text == "" && e.nFlate == 0 && e.nPages == 1)
    // unsupported filter: skipped as non-text
    val lzw = Pdf.build(Seq(page1), flate = false)
    val lzwS = new String(lzw, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace(">>\nstream", " /Filter /LZWDecode >>\nstream")
    val e2 = Pdf.decode(lzwS.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).get
    assert(e2.text == "" && e2.nPages == 1)
  }
}
