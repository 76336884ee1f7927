package graft.llm

import graft.SparkSpec

class XlsxSpec extends SparkSpec {

  test("shared strings resolve; all five cell kinds; dedup reuse") {
    val bytes = Xlsx.build(
      shared = Seq("Header", "Pooled & value"),
      cellsSpec = Seq(
        ("A1", "s", "<v>0</v>"),
        ("B1", "s", "<v>1</v>"),
        ("C1", "", "<v>42.5</v>"),
        ("D1", "inlineStr", "<is><t>inline text</t></is>"),
        ("E1", "b", "<v>1</v>"),
        ("F1", "str", "<v>cached</v>"),
        ("G1", "s", "<v>0</v>")))
    val cs = Xlsx.decode(bytes).get
    assert(cs == Seq(
      Xlsx.Cell("A1", "shared", "Header"),
      Xlsx.Cell("B1", "shared", "Pooled & value"), // entity round-trip
      Xlsx.Cell("C1", "num", "42.5"),              // raw text, not reformatted
      Xlsx.Cell("D1", "inline", "inline text"),
      Xlsx.Cell("E1", "bool", "TRUE"),
      Xlsx.Cell("F1", "formula", "cached"),
      Xlsx.Cell("G1", "shared", "Header")))       // pool reuse
  }

  test("quarantine and edges: bad index, missing parts, empty cells") {
    // out-of-range shared index: that CELL is empty, sheet survives
    val bad = Xlsx.build(Seq("only"), Seq(("A1", "s", "<v>7</v>"),
      ("B1", "", "<v>3</v>")))
    assert(Xlsx.decode(bad).get == Seq(
      Xlsx.Cell("A1", "shared", ""), Xlsx.Cell("B1", "num", "3")))
    // no sheet part: not an xlsx
    val noSheet = Zip.build(Seq(("other.xml", "<x/>".getBytes("UTF-8"), false)))
    assert(Xlsx.decode(noSheet).isEmpty)
    assert(Xlsx.decode("junk".getBytes("UTF-8")).isEmpty)
    // self-closing empty cells skip; no sharedStrings part with no s-cells is fine
    val empties = Zip.build(Seq(
      ("xl/worksheets/sheet1.xml",
        """<worksheet><sheetData><row><c r="A1"/><c r="B1"><v>5</v></c></row></sheetData></worksheet>"""
          .getBytes("UTF-8"), false)))
    assert(Xlsx.decode(empties).get == Seq(Xlsx.Cell("B1", "num", "5")))
  }

  test("rich runs concatenate; namespace prefixes tolerated") {
    val sst = """<x:sst xmlns:x="m"><x:si><x:r><x:t>rich </x:t></x:r><x:r><x:t>run</x:t></x:r></x:si></x:sst>"""
    assert(Xlsx.sharedStrings(sst) == Vector("rich run"))
    val sheet = """<x:worksheet xmlns:x="m"><x:sheetData><x:row><x:c r="A1" t="s"><x:v>0</x:v></x:c></x:row></x:sheetData></x:worksheet>"""
    assert(Xlsx.sheetCells(sheet, Vector("rich run")) ==
      Seq(Xlsx.Cell("A1", "shared", "rich run")))
  }
}
