package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec

class PptxSpec extends SparkSpec {

  test("per-slide text in slide order; runs concatenate; entities decode") {
    val bytes = Pptx.build(Seq(
      Seq(Seq("Title ", "run"), Seq("Subtitle & more")),
      Seq(Seq("Body slide"))))
    val ss = Pptx.decode(bytes).get
    assert(ss == Seq(
      Pptx.Slide(1, 2, "Title run\nSubtitle & more"),
      Pptx.Slide(2, 1, "Body slide")))
    assert(Pptx.deckText(bytes).contains(
      "Title run\nSubtitle & more\nBody slide"))
  }

  test("numeric slide order: slide10 after slide9, not after slide1") {
    // hand-build an archive whose member order and lexicographic order
    // both disagree with numeric order
    val mk = (n: Int, t: String) =>
      (s"ppt/slides/slide$n.xml",
        s"<p:sld><p:txBody><a:p><a:r><a:t>$t</a:t></a:r></a:p></p:txBody></p:sld>"
          .getBytes(UTF_8), false)
    val bytes = Zip.build(Seq(mk(10, "ten"), mk(2, "two"), mk(9, "nine")))
    assert(Pptx.decode(bytes).get.map(s => (s.no, s.text)) ==
      Seq((2, "two"), (9, "nine"), (10, "ten")))
  }

  test("quarantine: junk, zip without slides, empty-member slide") {
    assert(Pptx.decode("not a zip".getBytes(UTF_8)).isEmpty)
    assert(Pptx.decode(null).isEmpty)
    val noSlides = Zip.build(Seq(
      ("ppt/presentation.xml", "<p/>".getBytes(UTF_8), false)))
    assert(Pptx.decode(noSlides).isEmpty)
    // decoy names that are NOT slide parts don't match
    val decoys = Zip.build(Seq(
      ("ppt/slides/slideLayouts/slideLayout1.xml", "<x/>".getBytes(UTF_8), false),
      ("ppt/slides/slide1.xml.rels", "<x/>".getBytes(UTF_8), false),
      ("ppt/slides/slide1.xml", "<a:p><a:r><a:t>real</a:t></a:r></a:p>".getBytes(UTF_8), false)))
    assert(Pptx.decode(decoys).get.map(_.text) == Seq("real"))
  }
}
